"""The session factory makes the engine importable for its own Python
workers, wherever it is checked out and whatever the caller's cwd, and
starts the driver JVM from a validated class-data-sharing archive."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from dbt_eamples_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a driver that finds the package through its own sys.path only; the
# query's mapInPandas stage pickles an engine function by reference,
# so each worker has to import dbt_eamples_spark itself
DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from dbt_eamples_spark.operators.multimodal import multimodal_features_flat
from dbt_eamples_spark.session import get_spark
rows = multimodal_features_flat(get_spark("udf-workers"), {sf_dir!r}).collect()
print("ROWS", len(rows))
"""


def test_udf_workers_import_engine_without_pythonpath(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ROWS " in r.stdout and "ROWS 0" not in r.stdout, r.stdout


# -- the driver's class-data-sharing archive ---------------------------------


def _launcher_jar() -> str:
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    return os.path.join(jars, next(n for n in sorted(os.listdir(jars)) if n.startswith("spark-launcher")))


@pytest.fixture()
def spark_home(tmp_path):
    """A Spark home whose conf holds only templates and whose one jar is
    the launcher's: small enough to dump a real archive in a second."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    os.symlink(_launcher_jar(), home / "jars" / "launcher.jar")
    return str(home)


@pytest.fixture()
def java():
    java = session._java()
    assert java is not None
    return java


def _dump(java, class_path, out):
    """A real dynamic archive of the classes the launcher's main loads."""
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={out}", *session.CDS_QUIET.split(),
         "-cp", class_path, "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=120,
    )
    assert os.path.getsize(out) > 0


def _candidate(java, spark_home, cache, mangle=None):
    """Leave a finished dump's candidate and class-path record in
    ``cache``, as a dump launch's JVM does at exit."""
    conf_dir = os.path.join(cache, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    key = session.cds_key(java, os.path.join(spark_home, "jars"), conf_dir)
    jar = os.path.join(spark_home, "jars", "launcher.jar")
    cand = os.path.join(cache, f"{key}.4242.jsa")
    _dump(java, jar, cand)
    os.chmod(cand, 0o644)
    if mangle == "truncated":
        with open(cand, "r+b") as fh:
            fh.truncate(os.path.getsize(cand) // 2)
    elif mangle == "corrupted":
        with open(cand, "r+b") as fh:
            fh.seek(os.path.getsize(cand) // 2)
            fh.write(b"XXXXXXXX")
    elif mangle == "mismatched":
        # the JVM that dumped it ran with another class path
        jar = os.path.join(os.path.dirname(spark_home), "other.jar")
        open(jar, "wb").close()
    with open(os.path.join(cache, f"{key}.4242.cp"), "w") as fh:
        fh.write(jar)
    return key, cand


def test_good_candidate_is_promoted_and_shared(java, spark_home, tmp_path):
    cache = str(tmp_path / "cds")
    key, cand = _candidate(java, spark_home, cache)
    launch = session.prepare_cds(cache, spark_home)
    archive = os.path.join(cache, f"{key}.jsa")
    assert launch.java_options == session.CDS_SHARE.format(archive=archive)
    assert launch.lock is None and launch.conf_dir == os.path.join(cache, "conf")
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.jsa", f"{key}.jsa.ok"])
    # a later launch shares the same archive without a dump
    assert session.prepare_cds(cache, spark_home).java_options == launch.java_options


@pytest.mark.parametrize("mangle", ["truncated", "corrupted", "mismatched"])
def test_bad_candidate_is_rejected_deleted_and_never_mapped(java, spark_home, tmp_path, mangle):
    cache = str(tmp_path / "cds")
    key, cand = _candidate(java, spark_home, cache, mangle)
    # the JVM would crash mapping the truncated one (SIGBUS / abort)
    assert not session.validate_archive(java, cand, os.path.join(cache, f"{key}.4242.cp"))
    launch = session.prepare_cds(cache, spark_home)
    assert not os.path.exists(cand)
    assert not os.path.exists(os.path.join(cache, f"{key}.jsa"))
    assert cand not in launch.java_options and "SharedArchiveFile" not in launch.java_options
    # no archive left: this launch dumps a new candidate under its own pid
    assert launch.java_options == session.CDS_DUMP.format(
        archive=os.path.join(cache, f"{key}.{os.getpid()}.jsa"))
    launch.abandon()
    assert sorted(os.listdir(cache)) == ["conf"]


def test_archive_changed_after_promotion_is_deleted(java, spark_home, tmp_path):
    cache = str(tmp_path / "cds")
    key, _ = _candidate(java, spark_home, cache)
    session.prepare_cds(cache, spark_home)
    archive = os.path.join(cache, f"{key}.jsa")
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(os.path.getsize(archive) // 2)
    launch = session.prepare_cds(cache, spark_home)
    assert "SharedArchiveFile" not in launch.java_options
    assert not os.path.exists(archive)
    launch.abandon()


def test_key_changes_when_the_jar_listing_changes(java, spark_home, tmp_path):
    jars, conf = os.path.join(spark_home, "jars"), str(tmp_path / "conf")
    k0 = session.cds_key(java, jars, conf)
    assert session.cds_key(java, jars, conf) == k0
    extra = os.path.join(jars, "extra.jar")
    with open(extra, "wb") as fh:
        fh.write(b"x")
    k1 = session.cds_key(java, jars, conf)
    with open(extra, "ab") as fh:
        fh.write(b"y")
    k2 = session.cds_key(java, jars, conf)
    os.utime(extra, ns=(1, 1))
    k3 = session.cds_key(java, jars, conf)
    os.rename(extra, os.path.join(jars, "renamed.jar"))
    k4 = session.cds_key(java, jars, conf)
    assert len({k0, k1, k2, k3, k4}) == 5
    assert session.cds_key(java, jars, str(tmp_path / "elsewhere")) != k4


def test_conf_dir_with_a_real_file_turns_cds_off(spark_home, tmp_path, monkeypatch):
    cache = str(tmp_path / "cds")
    launch = session.prepare_cds(cache, spark_home)
    assert "ArchiveClassesAtExit" in launch.java_options
    launch.abandon()
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert session.prepare_cds(cache, spark_home) is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    with open(os.path.join(spark_home, "conf", "spark-defaults.conf"), "w") as fh:
        fh.write("spark.driver.memory 2g\n")
    assert session.prepare_cds(cache, spark_home) is None


def test_live_dump_lock_and_unwritable_cache_launch_without_cds(java, spark_home, tmp_path):
    cache = str(tmp_path / "cds")
    launch = session.prepare_cds(cache, spark_home)  # holds the lock
    assert session.prepare_cds(cache, spark_home) is None
    # a lock whose process is gone is taken over
    with open(launch.lock, "w") as fh:
        fh.write("0")
    again = session.prepare_cds(cache, spark_home)
    assert "ArchiveClassesAtExit" in again.java_options
    again.abandon()
    blocker = tmp_path / "file"
    blocker.write_text("")
    assert session.prepare_cds(str(blocker / "cds"), spark_home) is None


def test_other_keys_files_are_removed(spark_home, tmp_path):
    cache = tmp_path / "cds"
    cache.mkdir()
    for name in ("stale.jsa", "stale.jsa.ok", "stale.77.jsa", "stale.77.cp", "stale.lock"):
        (cache / name).write_text("")
    session.prepare_cds(str(cache), spark_home).abandon()
    assert sorted(os.listdir(cache)) == ["conf"]


LAUNCH_TWICE = """
import json, os, re, subprocess, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from dbt_eamples_spark import session
spark = session.get_spark("cds")
rows = spark.range(100).selectExpr("sum(id) AS s").collect()
sc = spark.sparkContext
args = list(sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
jcmd = os.path.join(os.path.dirname(session._java()), "jcmd")
info = subprocess.run([jcmd, str(sc._gateway.proc.pid), "VM.info"], capture_output=True, text=True).stdout
# [base, base end / top start, top end): a mapped top (dynamic) archive has a size
spans = re.search(r"CDS archive\\(s\\) mapped at: \\[(\\w+)-(\\w+)-(\\w+)\\)", info)
spark.stop()
gateway = SparkContext._gateway
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait()  # the dump happens as the JVM exits
print("RESULT", json.dumps({{"sum": rows[0].s, "args": args,
      "top_mapped": bool(spans) and spans.group(2) != spans.group(3)}}))
"""


def test_two_launches_dump_once_then_share(tmp_path):
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "xdg"), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_CONF_DIR", None)
    cache = os.path.join(env["XDG_CACHE_HOME"], "spark-graft", "cds")

    def launch():
        r = subprocess.run(
            [sys.executable, "-c", LAUNCH_TWICE.format(repo=REPO)],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        line = next(x for x in r.stdout.splitlines() if x.startswith("RESULT "))
        return json.loads(line[len("RESULT "):])

    first = launch()
    assert first["sum"] == 4950 and not first["top_mapped"]
    dumps = [a for a in first["args"] if a.startswith("-XX:ArchiveClassesAtExit=")]
    assert len(dumps) == 1
    candidate = dumps[0].split("=", 1)[1]
    assert os.path.getsize(candidate) > 0 and os.path.exists(candidate[: -len(".jsa")] + ".cp")
    key = os.path.basename(candidate).split(".")[0]

    second = launch()
    archive = os.path.join(cache, f"{key}.jsa")
    assert second["sum"] == 4950
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert not any(a.startswith("-XX:ArchiveClassesAtExit") for a in second["args"])
    assert second["top_mapped"]
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.jsa", f"{key}.jsa.ok"])
