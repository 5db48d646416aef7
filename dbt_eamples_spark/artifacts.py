"""Persisted index artifacts (VERDICT r4 #6): the near-dup pair
graph, LSH band indexes, and trained PQ codebooks are INDEXES — at
100 TB they are built once, stored, and probed by every later query
and ingest delta. The session-dict caches the operators used through
round 4 die with the SparkContext; this module gives them a disk
tier: parquet artifacts under ``_artifacts/`` keyed by a corpus
FINGERPRINT, so a second session (or a second process) reuses the
index instead of recomputing it, and an ingest delta can probe an
index built days earlier.

Fingerprint = md5 over each source parquet file's (path, size,
mtime) — the standard "did the input change" key (content hashing
would scan the corpus the artifact exists to avoid). Any rewrite of
the source invalidates the key and the next call rebuilds.

Parquet preserves float64 bit patterns exactly, so artifact reuse
cannot perturb the engine-exact guarantees (oracle hashes are
unchanged whether an index was built or loaded).

``ARTIFACT_EVENTS`` records (kind, "build" | "reuse") per call — the
observability hook the reuse tests assert on. ``SESSION_EVENTS`` does
the same for the session store: (name, "hit" | "build") per use.

Artifacts are immutable, so :func:`publish` lands a frame that is an
unchanged stored generation under a new fingerprint by hard-linking
its files instead of rewriting them.

Above the disk tier sits the session store (:func:`session_artifact`,
:func:`session_state`): the one place operators keep state for the
life of a SparkContext, keyed and invalidated by the same fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dbt_eamples_spark.catalog import (
    file_state,
    parquet_read_schema,
    read_parquet,
    remember_schema,
    table_path,
)

# (kind, "build"|"reuse") log, newest last — test/debug observability
ARTIFACT_EVENTS: list[tuple[str, str]] = []


def artifacts_root() -> str:
    """Resolved per call so tests (and deployments) can point the
    store elsewhere via SPARK_GRAFT_ARTIFACTS; the default is
    ``_artifacts/`` next to the package, wherever it is checked out."""
    return os.environ.get(
        "SPARK_GRAFT_ARTIFACTS",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "_artifacts",
        ),
    )


def corpus_fingerprint(sf_dir: str, *tables: str) -> str:
    """md5 over (abs path, size, mtime_ns) of each source table's
    parquet file — cheap (metadata-only) and rewrite-sensitive.
    Directory-backed tables fingerprint the RECURSIVE file listing
    (per part-file path/size/mtime): stat()ing just the directory
    would miss an in-place part rewrite that leaves the dir entry's
    size/mtime unchanged, silently reusing a stale index (ADVICE
    r5)."""
    h = hashlib.md5()
    for t in sorted(tables):
        p = os.path.abspath(table_path(sf_dir, t))
        for rel, size, mtime_ns in file_state(p):
            fp = os.path.join(p, rel) if rel else p
            h.update(f"{fp}:{size}:{mtime_ns};".encode())
    return h.hexdigest()[:16]


def artifact_path(kind: str, fingerprint: str) -> str:
    return os.path.join(artifacts_root(), kind, fingerprint)


def load_or_build(
    spark: SparkSession,
    kind: str,
    fingerprint: str,
    build,
) -> DataFrame:
    """Return the ``kind`` artifact for ``fingerprint``, building it
    with ``build()`` (a () -> DataFrame) only on miss. Publication is
    a directory RENAME of a fully-written temp sibling (ADVICE r5:
    ``mode('overwrite')`` on the final path would first DELETE it, so
    a concurrent reader could see a vanished/partial artifact and two
    builders could clobber each other's _temporary dirs). With the
    rename, a reader either sees no artifact (and builds its own temp
    copy) or a complete one; if two builders race, the loser's rename
    fails on the now-existing path and it falls through to reading
    the winner's identical (same-fingerprint) artifact. Hits read the
    parquet back — at scale that read is the bucketed/pruned scan the
    index exists to provide."""
    def write(tmp: str) -> StructType:
        df = build()
        df.write.mode("overwrite").parquet(tmp)
        return parquet_read_schema(df.schema)

    return _land(spark, kind, fingerprint, write)


def publish(
    spark: SparkSession, kind: str, fingerprint: str, df: DataFrame
) -> DataFrame:
    """Land an already-planned ``df`` as the ``kind`` artifact for
    ``fingerprint``. A frame that IS a stored generation of the same
    kind — the unchanged scan :func:`load_or_build` returned, e.g. the
    IVF quantizer an append carries forward — is republished by
    hard-linking that generation's files into the temp sibling
    instead of re-writing them through Spark; the rename, the
    ``build`` event and the manifest stamp are the same either way.
    Artifacts are immutable, so shared inodes are safe, and GC of the
    older generation leaves the links intact."""
    src = getattr(df, "_artifact_generation", None)
    if src is None or src[0] != kind:
        return load_or_build(spark, kind, fingerprint, lambda: df)
    def link(tmp: str) -> StructType:
        shutil.copytree(artifact_path(*src), tmp, copy_function=os.link)
        # the links are the source generation's own files, so its
        # schema is the new generation's
        return df.schema

    return _land(spark, kind, fingerprint, link)


def _land(spark: SparkSession, kind: str, fingerprint: str, write) -> DataFrame:
    """The publish-by-rename contract shared by :func:`load_or_build`
    and :func:`publish`: reuse a complete artifact, else ``write(tmp)``
    a temp sibling and rename it into place. ``write`` returns the
    schema a read of the files it landed infers, which is remembered
    for them, so the scan of a fresh generation runs no inference
    job."""
    path = artifact_path(kind, fingerprint)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        ARTIFACT_EVENTS.append((kind, "reuse"))
        _manifest_touch(kind, fingerprint, built=False)
        return _scan(spark, kind, fingerprint)
    tmp = f"{path}.build.{os.getpid()}.{time.time_ns()}"
    schema = write(tmp)
    published = True
    try:
        os.rename(tmp, path)
    except OSError:
        # lost the publish race — the winner's artifact (same
        # fingerprint, same content) is already in place; record a
        # hit, not a build, so the inventory counts real publishes
        shutil.rmtree(tmp, ignore_errors=True)
        published = False
    ARTIFACT_EVENTS.append((kind, "build" if published else "reuse"))
    _manifest_touch(kind, fingerprint, built=published)
    if published:
        remember_schema(spark, path, schema)
    return _scan(spark, kind, fingerprint)


def _scan(spark: SparkSession, kind: str, fingerprint: str) -> DataFrame:
    """Read a stored generation back, tagged with its (kind,
    fingerprint) so :func:`publish` can recognise it unchanged."""
    df = read_parquet(spark, artifact_path(kind, fingerprint))
    df._artifact_generation = (kind, fingerprint)
    return df


def load_or_build_bucketed(
    spark: SparkSession,
    kind: str,
    fingerprint: str,
    bucket_key: str,
    build,
    n_buckets: int = 32,
) -> DataFrame:
    """Bucketed variant of :func:`load_or_build` (VERDICT r6 #5):
    the artifact's parquet files are written HASH-BUCKETED on
    ``bucket_key`` once, so every later scan reports
    ``HashPartitioning(bucket_key)`` and a consumer's
    groupBy/join/window keyed on it needs NO exchange — for the
    iterative graph kernels that is zero edge-sized shuffles per
    power-iteration round, decided at WRITE time (at 100 TB,
    re-shuffling the edge list per session — let alone per
    iteration — is the dominant cost this removes).

    Mechanics under the in-memory catalog: ``bucketBy`` requires a
    table, so a cold build writes an EXTERNAL bucketed table at a
    temp path, drops the temp catalog entry (files stay), and
    atomically renames into the artifact path — same crash/race
    contract as :func:`load_or_build`. Any session (including a
    brand-new process) then re-attaches with a metadata-only
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` over the
    existing bucket files and reads via ``spark.table`` — zero data
    movement on reuse. Bucket files are Spark-written, so the
    declared spec is trustworthy."""
    path = artifact_path(kind, fingerprint)
    marker = os.path.join(path, "_SUCCESS")
    table = f"art_{kind}_{fingerprint}"
    if os.path.exists(marker):
        ARTIFACT_EVENTS.append((kind, "reuse"))
        _manifest_touch(kind, fingerprint, built=False)
        return _attach_bucketed(spark, table, path, bucket_key, n_buckets)
    df = build()
    tag = f"{os.getpid()}_{time.time_ns()}"
    tmp_table = f"{table}_build_{tag}"
    tmp = f"{path}.build.{tag}"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    (
        df.write.bucketBy(n_buckets, bucket_key)
        .sortBy(bucket_key)
        .option("path", tmp)
        .format("parquet")
        .saveAsTable(tmp_table)
    )
    spark.sql(f"DROP TABLE `{tmp_table}`")  # external: files stay
    published = True
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        published = False
    ARTIFACT_EVENTS.append((kind, "build" if published else "reuse"))
    _manifest_touch(kind, fingerprint, built=published)
    return _attach_bucketed(spark, table, path, bucket_key, n_buckets)


def _uri_path(location: str) -> str:
    """Filesystem path of a catalog Location string: handles plain
    paths, file:/x, file:///x, and percent-encoded characters (tmp
    dirs with spaces) via urllib — never string surgery."""
    from urllib.parse import unquote, urlparse

    p = urlparse(location)
    return os.path.abspath(unquote(p.path) if p.scheme else location)


def _attach_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_key: str,
    n_buckets: int,
) -> DataFrame:
    """Register (idempotently) the external bucketed table over
    already-written bucket files and return its scan. If the name is
    already bound to a DIFFERENT location (the artifacts root moved,
    e.g. per-test tmp stores in one session), rebind — the path, not
    the catalog entry, is the source of truth."""
    if spark.catalog.tableExists(table):
        loc = [
            r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED `{table}`").collect()
            if r.col_name == "Location"
        ]
        # normalize BOTH sides as URIs before comparing (ADVICE r7:
        # a blind replace('file:', '') mangles any path containing
        # 'file:' and misses file:// / percent-encoded forms, so a
        # valid binding could be dropped and recreated per call)
        if loc and _uri_path(loc[0]) == os.path.abspath(path):
            return spark.table(table)
        spark.sql(f"DROP TABLE `{table}`")
    ddl = read_parquet(spark, path).schema.toDDL()
    spark.sql(
        f"CREATE TABLE `{table}` ({ddl}) USING parquet "
        f"CLUSTERED BY (`{bucket_key}`) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(table)


# ---- session store ----------------------------------------------------------
# Operator state that outlives one query but not the SparkContext: the
# persisted or checkpointed scan of an artifact, and trained model
# state (codebooks, centroids, spectra, audit legs) that never touches
# the disk tier. One entry per (applicationId, sf_dir, name), stamped
# with the corpus fingerprint of its source tables: a rewrite of those
# tables rebuilds the entry on its next use and releases the superseded
# value, and leaves entries over other tables alone.

_SESSION: dict[tuple[str, str, str], tuple[str, object]] = {}

# (name, "hit"|"build") per session-store use, newest last; a "build"
# runs ``make``, which may itself reuse the disk tier
SESSION_EVENTS: list[tuple[str, str]] = []


def session_state(
    spark: SparkSession, sf_dir: str, name: str, tables: tuple, build
):
    """``build()``'s value, kept under ``name`` for as long as the
    session runs and ``tables`` of ``sf_dir`` stay unchanged."""
    return _remember(spark, sf_dir, name, tables, lambda fp: build())


def session_artifact(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    tables: tuple,
    build,
    keep=DataFrame.persist,
    bucket_key: str | None = None,
):
    """The ``kind`` artifact of ``tables`` (:func:`load_or_build`, or
    :func:`load_or_build_bucketed` on ``bucket_key``), held in the
    session as ``keep(scan)``: persisted by default, or whatever the
    caller materialises it to."""

    def make(fp: str):
        if bucket_key is None:
            return keep(load_or_build(spark, kind, fp, build))
        return keep(load_or_build_bucketed(spark, kind, fp, bucket_key, build))

    return _remember(spark, sf_dir, kind, tables, make)


def seed_session_state(
    spark: SparkSession, sf_dir: str, name: str, fingerprint: str, value
) -> None:
    """Hold ``value`` as :func:`session_state`'s ``name`` entry for the
    source tables' state ``fingerprint`` (:func:`corpus_fingerprint`),
    for a caller that knows that state's value without building it.
    A use at that state is a hit; a use at any other state rebuilds."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    held = _SESSION.get(key)
    if held is not None and held[1] is not value:
        _release(held[1])
    _SESSION[key] = (fingerprint, value)


def _remember(spark: SparkSession, sf_dir: str, name: str, tables, make):
    fp = corpus_fingerprint(sf_dir, *tables)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    held = _SESSION.get(key)
    if held is not None:
        if held[0] == fp:
            SESSION_EVENTS.append((name, "hit"))
            return held[1]
        del _SESSION[key]
        _release(held[1])
    value = make(fp)
    _SESSION[key] = (fp, value)
    SESSION_EVENTS.append((name, "build"))
    return value


def _release(value) -> None:
    """Unpersist the frames of a superseded entry (a frame or a tuple
    holding frames); other values are simply dropped."""
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:
                pass  # its SparkContext is already gone


def clear_session_state() -> None:
    """Drop every session entry, so the next use rebuilds or reloads."""
    while _SESSION:
        _release(_SESSION.popitem()[1][1])


# ---- manifest + GC ----------------------------------------------------------
# The store ACCRETES one directory per (kind, corpus fingerprint):
# every source rewrite strands the previous index forever. A real
# deployment needs expiry, which needs usage stamps — so every
# build/reuse updates a manifest and ``gc_artifacts`` applies the
# retention policy (age cutoff and/or keep-N-most-recent per kind).
# The manifest is operational metadata, never a correctness input:
# losing it merely re-adopts directories from their filesystem
# mtimes on the next GC.

MANIFEST_NAME = "manifest.json"


def _manifest_path() -> str:
    return os.path.join(artifacts_root(), MANIFEST_NAME)


def _manifest_load() -> dict:
    try:
        with open(_manifest_path()) as fh:
            m = json.load(fh)
        return m if isinstance(m, dict) else {}
    except (OSError, ValueError):
        return {}


def _manifest_write(m: dict) -> None:
    path = _manifest_path()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(m, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX: readers see old or new


def _dir_size(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _manifest_touch(kind: str, fingerprint: str, *, built: bool) -> None:
    now = time.time()
    m = _manifest_load()
    e = m.setdefault(f"{kind}/{fingerprint}", {"built_at": now, "n_uses": 0})
    if built:
        e["built_at"] = now
        # size is stamped at build time (VERDICT r9 #6): corpus-sized
        # artifacts like doc_shingles need footprint accounting, and
        # walking once per build is free relative to the build
        e["size_bytes"] = _dir_size(artifact_path(kind, fingerprint))
    e["last_used_at"] = now
    e["n_uses"] = int(e.get("n_uses", 0)) + 1
    _manifest_write(m)


def list_artifacts() -> list[dict]:
    """Inventory of the store: one row per on-disk artifact directory
    with its manifest stamps (untracked directories — e.g. written
    before the manifest existed — are ADOPTED with their filesystem
    mtime as both stamps) and its on-disk byte size."""
    root = artifacts_root()
    m = _manifest_load()
    out = []
    if not os.path.isdir(root):
        return out
    for kind in sorted(os.listdir(root)):
        kdir = os.path.join(root, kind)
        if not os.path.isdir(kdir):
            continue
        for fp in sorted(os.listdir(kdir)):
            path = os.path.join(kdir, fp)
            if not os.path.isdir(path) or ".build." in fp:
                continue  # in-flight temp dirs are not inventory
            key = f"{kind}/{fp}"
            e = m.get(key)
            if e is None:
                mt = os.stat(path).st_mtime
                e = {"built_at": mt, "last_used_at": mt, "n_uses": 0}
            # the directory walk, not the manifest stamp, is the
            # inventory's source of truth for bytes
            size = _dir_size(path)
            e = {k: v for k, v in e.items() if k != "size_bytes"}
            out.append(
                {
                    "kind": kind,
                    "fingerprint": fp,
                    "path": path,
                    "size_bytes": size,
                    **e,
                }
            )
    return out


def gc_artifacts(
    max_age_seconds: float | None = None,
    keep_latest_per_kind: int | None = None,
    now: float | None = None,
    max_total_bytes: int | None = None,
) -> list[dict]:
    """Expire stored artifacts; returns the removed inventory rows.

    Policy (all optional, combined with AND-to-survive): an
    artifact survives if its ``last_used_at`` is within
    ``max_age_seconds`` of ``now`` AND it is among the
    ``keep_latest_per_kind`` most-recently-used of its kind. With
    ``max_total_bytes`` (VERDICT r9 #6 — corpus-sized artifacts
    like ``doc_shingles`` need a footprint bound, not just an age
    bound), the SURVIVORS of those filters are then evicted
    stalest-first (largest-first within the same staleness) until
    the store fits the budget. With nothing set this is a no-op
    (explicit policy, no surprise deletes). Removal deletes the
    directory first and then the manifest row, so a crash between
    the two leaves only a stale manifest row — corrected on the
    next GC pass (the directory listing, not the manifest, is the
    source of truth)."""
    if (
        max_age_seconds is None
        and keep_latest_per_kind is None
        and max_total_bytes is None
    ):
        return []
    now = time.time() if now is None else now
    inv = list_artifacts()
    by_kind: dict[str, list[dict]] = {}
    for row in inv:
        by_kind.setdefault(row["kind"], []).append(row)
    doomed = []
    for kind, rows in by_kind.items():
        rows.sort(key=lambda r: r["last_used_at"], reverse=True)
        for i, row in enumerate(rows):
            too_old = (
                max_age_seconds is not None
                and now - row["last_used_at"] > max_age_seconds
            )
            overflow = (
                keep_latest_per_kind is not None
                and i >= keep_latest_per_kind
            )
            if too_old or overflow:
                doomed.append(row)
    if max_total_bytes is not None:
        doomed_keys = {f"{r['kind']}/{r['fingerprint']}" for r in doomed}
        survivors = [
            r for r in inv
            if f"{r['kind']}/{r['fingerprint']}" not in doomed_keys
        ]
        total = sum(r["size_bytes"] for r in survivors)
        # largest-stalest first: oldest last_used_at, then biggest
        survivors.sort(key=lambda r: (r["last_used_at"], -r["size_bytes"]))
        for row in survivors:
            if total <= max_total_bytes:
                break
            doomed.append(row)
            total -= row["size_bytes"]
    m = _manifest_load()
    for row in doomed:
        shutil.rmtree(row["path"], ignore_errors=True)
        m.pop(f"{row['kind']}/{row['fingerprint']}", None)
    # drop manifest rows whose directory vanished out-of-band too
    live = {f"{r['kind']}/{r['fingerprint']}" for r in inv} - {
        f"{r['kind']}/{r['fingerprint']}" for r in doomed
    }
    m = {k: v for k, v in m.items() if k in live}
    _manifest_write(m)
    return doomed
