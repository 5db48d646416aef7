"""Catalog: register the fixture parquet tables as temp views.

Mirrors the reference's implicit catalog (schema-qualified warehouse
tables, e.g. ``omni.self_testnet_transactions`` at
`/root/reference/helix-flow/dags/omni/transactions_dag.py:22-24`):
here a table name resolves to a parquet path and is exposed to Spark
SQL as a temp view. At cluster scale these would be external tables
over partitioned parquet/iceberg; the API is identical.

Every parquet read in the engine goes through :func:`read_parquet`.
A parquet read without a schema runs a one-task Spark job to read a
footer and infer the schema; :func:`read_parquet` does that once per
file state and hands the remembered schema to every later read of the
same state, which then runs no Spark job. The memo is keyed on the
application id, the absolute path, the (relative path, size,
``mtime_ns``) of every file under it (:func:`file_state`) and the
session confs that change parquet inference (``_INFERENCE_CONFS``), so
an append, a rewrite or a conf flip re-infers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def file_state(path: str) -> tuple[tuple[str, int, int], ...]:
    """(path relative to ``path``, size, ``mtime_ns``) of every file
    under ``path``, recursively and in sorted walk order; a plain file
    is one entry with relative path ``""``. Metadata only, and
    rewrite-sensitive: an in-place part rewrite that leaves the
    directory entry unchanged still changes its file's entry. Raises
    ``FileNotFoundError`` for a missing path."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            fp = os.path.join(d, f)
            st = os.stat(fp)
            out.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


# session confs whose values change the schema parquet inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    # partitionBy directories: partition column types
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (applicationId, abs path, file state, conf values) -> inferred schema;
# one entry per (application, path): a new state evicts the old one
_PARQUET_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key of ``path``'s current file state, or None when there
    is nothing to infer from (missing path, empty directory)."""
    path = os.path.abspath(path)
    try:
        state = file_state(path)
    except FileNotFoundError:
        return None
    if not state:
        return None
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    return (spark.sparkContext.applicationId, path, state, confs)


def remember_schema(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record ``schema`` as what inference returns for ``path``'s
    current file state, evicting the path's superseded states. For
    callers that already hold the schema of exactly these files (a
    generation republished by hard link, or files Spark just wrote:
    :func:`parquet_read_schema`)."""
    key = _schema_key(spark, path)
    if key is not None:
        _remember(key, schema)


def _remember(key: tuple, schema: StructType) -> None:
    for k in [k for k in _PARQUET_SCHEMAS if k[:2] == key[:2]]:
        del _PARQUET_SCHEMAS[k]
    _PARQUET_SCHEMAS[key] = schema


def parquet_read_schema(schema: StructType) -> StructType:
    """The schema a parquet read infers for files Spark wrote from a
    frame of ``schema``: Spark keeps its own schema in the footer and
    reads it back with every field, array element and map value
    nullable."""
    return _as_nullable(schema)


def _as_nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    file state (see the module docstring). A known state reads with
    the remembered schema and runs no Spark job; an unknown one runs
    the plain read and remembers its schema. A missing path or an
    empty directory falls through to the plain read, so it raises the
    same ``AnalysisException`` as before."""
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _remember(key, df.schema)
    return df


# parquet TIMESTAMP(NANOS) columns (read as long via nanosAsLong,
# converted back to timestamp here; fixture nanos are micro-aligned)
_NANOS_TS_COLS = {"events": ("ts",)}

# Spellings whose wall-clock IS UTC (offset 0, no DST) — normalizing
# any of these to the canonical "UTC" changes no timestamp value.
_UTC_ALIASES = frozenset(
    {
        "UTC",
        "GMT",
        "GMT0",
        "Z",
        "+00:00",
        "Zulu",
        "Universal",
        "Greenwich",
        "Etc/UTC",
        "Etc/GMT",
        "Etc/GMT0",
        "Etc/GMT+0",
        "Etc/GMT-0",
        "Etc/Zulu",
        "Etc/Universal",
        "Etc/Greenwich",
        "UCT",
        "Etc/UCT",
    }
)


def _require_utc_session(spark: SparkSession) -> None:
    """Pin the session tz to canonical ``UTC`` when it is already a
    UTC alias; raise on anything else. NTZ fixture timestamps are
    interpreted in the session zone at EXECUTION time, so a non-UTC
    session would silently shift every timestamp — and mutating the
    caller's zone under them is worse (it changes the semantics of
    their unrelated queries). Loud failure is the only honest
    option."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_ALIASES:
        raise ValueError(
            f"dbt_eamples_spark requires spark.sql.session.timeZone=UTC "
            f"(naive fixture timestamps are defined as UTC wall-clock); "
            f"got {tz!r}. Set spark.conf.set('spark.sql.session.timeZone', "
            f"'UTC') before loading tables."
        )
    if tz != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Columnar parquet scan — Catalyst prunes columns and pushes
    predicates into it (verify with ``.explain``: ``PushedFilters``).
    Read through :func:`read_parquet`: once the table's file state is
    known in this application (same files, sizes and ``mtime_ns``,
    same inference confs), loading it runs no Spark job.

    ``parallelize=True`` adds a round-robin repartition to the
    session's core count. Use it ONLY in compute-heavy operators
    (hashing every shingle, scoring every embedding): the fixture
    files are single-row-group parquet, which Spark cannot split, so
    without it the whole operator runs as one task. The shuffle it
    adds is one pass over the raw rows — noise next to the compute
    it parallelizes, and harmless on a real cluster where the scan
    already yields many splits.
    """
    # runtime-settable; required under ANY session (not just our own
    # factory) so the driver's vanilla SparkSession can read the
    # TIMESTAMP(NANOS) `ts` column in events.parquet without
    # PARQUET_TYPE_ILLEGAL. Harmless for the other tables.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the NTZ→TIMESTAMP normalization below interprets naive values
    # in the SESSION time zone, so this engine REQUIRES session tz
    # UTC. A session already on a UTC spelling is normalized to the
    # canonical "UTC" (semantically a no-op); a genuinely non-UTC
    # session fails loudly rather than being silently flipped —
    # save/restore is not an option because the cast evaluates
    # lazily, long after this function returns.
    _require_utc_session(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    for col in _NANOS_TS_COLS.get(name, ()):
        if col in df.columns and dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    # parquet timestamps written without the UTC flag arrive as
    # TIMESTAMP_NTZ, which several time functions (unix_micros,
    # watermarks) reject. Session tz is UTC, so casting to TIMESTAMP
    # is value-preserving vs the oracle's naive-as-UTC read and
    # restores one engine-wide timestamp type regardless of how the
    # fixture generator annotated the file.
    for col, dt in df.dtypes:
        if dt == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if parallelize:
        df = df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view named after itself.

    Idempotent per (session, sf_dir, tables' file state): repeated
    calls for the same unchanged dir are a no-op (compiled metric
    queries call this on every execution; re-planning 10 parquet
    reads each time is pure overhead), and a table rewritten in the
    session re-registers instead of serving its old view."""
    names = [n for n in TABLES if os.path.exists(table_path(sf_dir, n))]
    # single-slot: views are session-global, so only the most recent
    # (session, dir) registration is valid — a different dir MUST
    # re-register or views would point at the wrong scale factor
    key = (
        id(spark),
        sf_dir,
        tuple((n, file_state(table_path(sf_dir, n))) for n in names),
    )
    slot = getattr(register_tables, "_slot", None)
    if slot is not None and slot[0] == key:
        return slot[1]
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    register_tables._slot = (key, out)
    return out


def invalidate_registered_tables() -> None:
    """Drop the ``register_tables`` idempotence memo.

    Callers that shadow or drop the registered views (e.g. the unit
    test harness replacing fixtures with mock temp views) must call
    this so the next compiled-metric execution re-registers instead
    of trusting a memo that no longer reflects the catalog."""
    register_tables._slot = None


STATS_DB = "dbt_stats"


def register_stats_tables(
    spark: SparkSession, sf_dir: str, database: str = STATS_DB
) -> list[str]:
    """Catalog-backed registration + ANALYZE — the 100×-scale
    insurance for broadcast decisions (VERDICT r3 #7).

    Temp views carry no catalog statistics, so Catalyst sizes their
    join sides from raw file bytes alone — fine while a dimension's
    parquet happens to sit under ``autoBroadcastJoinThreshold``,
    silently fragile when compression ratios or dim growth push the
    file size past it even though row counts still merit a
    broadcast. This registers each fixture table as an EXTERNAL
    parquet table (metadata only — no data copy; exactly the shape a
    lakehouse deployment uses) and runs
    ``ANALYZE TABLE ... COMPUTE STATISTICS`` so the catalog records
    rowCount + sizeInBytes. With ``spark.sql.cbo.enabled`` the
    planner then reasons from analyzed statistics — the dimension
    stays broadcast because the OPTIMIZER knows it is small, not
    because a size heuristic guessed right.

    Returns the fully-qualified table names. Idempotent: re-running
    re-points the tables at ``sf_dir`` and refreshes stats.
    """
    # ANALYZE row-counts scan the files; events.parquet needs the
    # nanos fallback exactly as load_table does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    names: list[str] = []
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        fq = f"{database}.{name}"
        # external: DROP removes metadata only, the parquet is untouched
        spark.sql(f"DROP TABLE IF EXISTS {fq}")
        spark.sql(f"CREATE TABLE {fq} USING parquet LOCATION '{path}'")
        spark.sql(f"ANALYZE TABLE {fq} COMPUTE STATISTICS")
        # column stats (ndv/min/max/null-count) feed CBO's
        # join-cardinality estimation — table-level stats alone size
        # the scan but not the join output. ANALYZE FOR COLUMNS
        # rejects nested types (array embeddings), so enumerate the
        # atomic columns explicitly.
        atomic = [
            f"`{c}`"
            for c, t in spark.table(fq).dtypes
            if not t.startswith(("array", "map", "struct", "binary"))
        ]
        if atomic:
            spark.sql(
                f"ANALYZE TABLE {fq} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(atomic)}"
            )
        names.append(fq)
    return names


def table_stats(spark: SparkSession, fq_table: str) -> dict[str, int]:
    """rowCount / sizeInBytes the catalog recorded for an analyzed
    table (empty dict when never analyzed)."""
    rows = spark.sql(f"DESCRIBE EXTENDED {fq_table}").collect()
    out: dict[str, int] = {}
    for r in rows:
        if r["col_name"] == "Statistics":
            # e.g. "123456 bytes, 6000 rows"
            for part in r["data_type"].split(","):
                part = part.strip()
                if part.endswith("bytes"):
                    out["size_bytes"] = int(part.split()[0])
                elif part.endswith("rows"):
                    out["row_count"] = int(part.split()[0])
    return out
