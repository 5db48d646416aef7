"""SparkSession factory.

UTC session timezone mirrors the reference's timezone normalization
(`/root/reference/connections.py:338-352` rebuilds cursor datetimes
with their own fixed offsets so values are instant-correct); Spark
stores timestamps UTC-normalized already, we just pin the session TZ
so rendering and the DuckDB oracle agree.

Scale posture: AQE on (runtime coalesce / skew-join / join re-plan),
shuffle partitions sized for the local harness but overridable via
env for cluster runs; Arrow enabled for the few Pandas-UDF paths.

The session puts the package's parent directory on its Python
workers' path, so Python-UDF stages import the engine from wherever it
is checked out and whatever the launching process's cwd and
``PYTHONPATH``.

Driver start-up from a class-data-sharing archive. Every CLI call
starts a fresh driver JVM, and loading and verifying Spark's classes
is most of its start-up. When ``get_spark`` launches the JVM, it
starts it from a JDK dynamic AppCDS archive of those classes, built on
the box from the installed JDK and Spark jars:

- *Where:* ``$XDG_CACHE_HOME/spark-graft/cds/`` (``~/.cache/...`` when
  unset), outside the checkout. Deleting the directory is always safe:
  the next launch runs without an archive and dumps a new one.
- *Key:* a hash of everything the archive's validity depends on: the
  JDK (its ``release`` file, the size and mtime of ``libjvm.so`` and of
  its base archive), the Spark jars (path, and name, size and mtime of
  each jar), the empty conf directory and the options below. Archives
  under any other key are deleted. The driver heap size is left out:
  the JVM checks the flags that matter to a mapping (compressed oops
  and class pointers, the base archive) itself and falls back.
- *Dump:* a launch that finds no archive takes the key's dump lock
  (``O_EXCL``, holding the pid of the process that will dump) and
  runs with ``-XX:ArchiveClassesAtExit``; the JVM writes the candidate
  ``<key>.<pid>.jsa`` when it exits. The launch records the JVM's exact
  ``java.class.path`` next to it.
- *Validate:* the JVM crashes (SIGBUS) mapping a truncated archive,
  even under ``-Xshare:auto``, so a candidate is never mapped before it
  passes ``java -Xshare:on -XX:+VerifySharedSpaces -cp <recorded path>
  -version`` (about 0.4 s). The first launch after the dumping JVM is
  gone runs that check and renames a passing candidate to
  ``<key>.jsa``, stamped with its size and mtime in ``<key>.jsa.ok``; a
  failing one is deleted, and so is an archive that no longer matches
  its stamp (truncated after the check, or never checked).
- *Launch:* ``-XX:SharedArchiveFile=<key>.jsa -Xshare:auto``, with the
  JVM's CDS log lines off. The options go through
  ``spark.driver.defaultJavaOptions``, so ``--driver-java-options`` in
  ``PYSPARK_SUBMIT_ARGS`` adds to them instead of replacing them.
- *Conf directory:* the JDK neither dumps nor maps an archive while the
  class path holds a non-empty directory, and the launcher puts the
  Spark conf directory first on it. When ``SPARK_CONF_DIR`` is unset
  and ``$SPARK_HOME/conf`` holds only ``*.template`` files (so Spark
  reads no configuration either way), the JVM is launched with
  ``SPARK_CONF_DIR`` pointing at an empty directory in the cache.
- *Fallback:* a set ``SPARK_CONF_DIR``, a conf directory with any real
  file, a cache that cannot be written, a live dump by another process
  or a candidate that fails its check each launch the JVM exactly as
  without an archive.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
DEFAULT_CPUS = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)
# the directory holding the dbt_eamples_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the dump run's JVM prints hundreds of [warning][cds] lines otherwise
CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
CDS_DUMP = "-XX:ArchiveClassesAtExit={archive} " + CDS_QUIET
CDS_SHARE = "-XX:SharedArchiveFile={archive} -Xshare:auto " + CDS_QUIET


def get_spark(app_name: str = "dbt-eamples-spark") -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    All settings are cluster-safe: on a real deployment only
    ``master`` and the partition counts change (via spark-submit),
    the semantic knobs (TZ, AQE, Arrow) stay.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture tables are single small parquet files → Spark would
        # plan ONE input split and serialize the whole scan on one
        # core; force the planner to cut at least one split per core
        # (no-op on a real cluster where files >> cores)
        .config("spark.sql.files.minPartitionNum", DEFAULT_CPUS)
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "4096"),
        )
        # fixture events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the
        # catalog (sub-microsecond parts are zero in the fixtures)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    launches_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    launch = prepare_cds(cache_dir()) if launches_jvm else None
    if launch is None:
        return builder.getOrCreate()
    builder = builder.config("spark.driver.defaultJavaOptions", launch.java_options)
    # prepare_cds returns None when SPARK_CONF_DIR is set
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        launch.abandon()
        raise
    finally:
        del os.environ["SPARK_CONF_DIR"]
    launch.started(spark)
    return spark


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft", "cds")


class CdsLaunch:
    """The options of one JVM launch; a dump launch also owns the dump
    lock and records the JVM's class path once the JVM is up."""

    def __init__(self, java_options: str, conf_dir: str, lock: str | None = None, record: str | None = None):
        self.java_options = java_options
        self.conf_dir = conf_dir
        self.lock = lock
        self.record = record

    def started(self, spark: SparkSession) -> None:
        if self.lock is None:
            return
        sc = spark.sparkContext
        with contextlib.suppress(OSError):
            # the JVM dumps at exit: the lock lives as long as it does
            _write_atomic(self.lock, str(sc._gateway.proc.pid))
            _write_atomic(self.record, sc._jvm.System.getProperty("java.class.path"))

    def abandon(self) -> None:
        if self.lock is not None:
            with contextlib.suppress(OSError):
                os.unlink(self.lock)


def prepare_cds(cache: str, spark_home: str | None = None) -> CdsLaunch | None:
    """Options for a driver JVM launch with the archive in ``cache``:
    share a validated archive, or dump a candidate; None launches
    without one (see the module docstring)."""
    if os.environ.get("SPARK_CONF_DIR"):
        return None
    if spark_home is None:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
    try:
        if any(not n.endswith(".template") for n in os.listdir(os.path.join(spark_home, "conf"))):
            return None
    except FileNotFoundError:
        pass
    java = _java()
    if java is None:
        return None
    try:
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        key = cds_key(java, os.path.join(spark_home, "jars"), conf_dir)
        _drop_stale(cache, key)
        archive = os.path.join(cache, f"{key}.jsa")
        lock = os.path.join(cache, f"{key}.lock")
        if not _lock_live(lock):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lock)
            _promote_candidates(cache, key, java)
        if _validated(archive):
            return CdsLaunch(CDS_SHARE.format(archive=archive), conf_dir)
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        base = os.path.join(cache, f"{key}.{os.getpid()}")
        return CdsLaunch(CDS_DUMP.format(archive=base + ".jsa"), conf_dir, lock, base + ".cp")
    except OSError:
        return None


def cds_key(java: str, jars_dir: str, conf_dir: str) -> str:
    """Hash of the JDK, the jar listing, the class path's conf entry
    and the CDS options: any change makes a new archive."""
    h = hashlib.sha256()
    home = os.path.dirname(os.path.dirname(java))
    with open(os.path.join(home, "release"), "rb") as fh:
        h.update(fh.read())
    for lib in ("libjvm.so", "classes.jsa"):
        st = os.stat(os.path.join(home, "lib", "server", lib))
        h.update(f"{lib}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    h.update(f"{java}\n{os.path.abspath(jars_dir)}\n{conf_dir}\n{CDS_DUMP}\n{CDS_SHARE}\n".encode())
    for entry in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _java() -> str | None:
    """The java binary Spark's launch scripts run."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.exists(java) else None


def _lock_live(lock: str) -> bool:
    """True while the process whose pid the lock holds runs."""
    try:
        with open(lock) as fh:
            pid = int(fh.read())
        if pid <= 0:
            return False
        os.kill(pid, 0)
    except PermissionError:
        return True
    except (OSError, ValueError):
        return False
    return True


def _drop_stale(cache: str, key: str) -> None:
    """Delete every other key's files."""
    for name in os.listdir(cache):
        if name.split(".")[0] not in (key, "conf"):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(os.path.join(cache, name))


def _promote_candidates(cache: str, key: str, java: str) -> None:
    """Check each finished candidate of ``key``; rename the first that
    passes to ``<key>.jsa`` and delete the rest."""
    archive = os.path.join(cache, f"{key}.jsa")
    for name in sorted(os.listdir(cache)):
        if not (name.startswith(f"{key}.") and name.endswith(".jsa")) or name == f"{key}.jsa":
            continue
        candidate = os.path.join(cache, name)
        record = candidate[: -len(".jsa")] + ".cp"
        if not _validated(archive) and validate_archive(java, candidate, record):
            # stamp first: a reader never sees the archive without it
            _write_atomic(archive + ".ok", _stamp(candidate))
            os.replace(candidate, archive)
        else:
            os.unlink(candidate)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(record)
    for name in os.listdir(cache):
        # a record whose dump never happened (the JVM was killed)
        if name.startswith(f"{key}.") and name.endswith(".cp"):
            os.unlink(os.path.join(cache, name))


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def _validated(archive: str) -> bool:
    """True when ``archive`` is the file that passed validation (same
    size and mtime as stamped then); any other file there is deleted."""
    try:
        with open(archive + ".ok") as fh:
            if fh.read() == _stamp(archive):
                return True
    except FileNotFoundError:
        pass
    for path in (archive, archive + ".ok"):
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)
    return False


def validate_archive(java: str, archive: str, record: str) -> bool:
    """True when a JVM maps ``archive`` with the recorded class path and
    its checksums verify; a truncated or corrupt archive fails here,
    in a throwaway JVM, instead of crashing the driver."""
    crash_log = archive + ".err"
    try:
        with open(record) as fh:
            class_path = fh.read()
        r = subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", "-XX:+VerifySharedSpaces",
             f"-XX:ErrorFile={crash_log}", "-XX:-CreateCoredumpOnCrash", "-cp", class_path, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
        )
    except (OSError, subprocess.SubprocessError):
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(crash_log)
    return r.returncode == 0


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)
