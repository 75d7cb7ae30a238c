"""Sources: batch parquet loaders + streaming source builders.

Reference mapping (SURVEY.md §2.1): the reference consumes Kafka
topics per warehouse layer [R]. Our batch stand-in is the driver's
parquet tables (S3); the streaming path reads the same schema from a
file-source directory (or kafka when available) — see
``flink_realtime_edu_spark.streaming``.

Scale posture: `spark.read.parquet` gives the vectorized reader,
predicate pushdown and column pruning for free; at 100 TB the same
call over a partitioned table root additionally gets static +
dynamic partition pruning (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_edu_spark.session import configure

# The driver's testdata tables (TESTDATA.md / FIXTURES.md).
TABLES: tuple[str, ...] = (
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

# Small dimension tables that should always be broadcast in joins
# (reference: HBase/Phoenix dim tables with Redis cache → our J3
# broadcast-hash-join mapping, SURVEY.md §2.3).
DIM_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# On-disk shapes of the events `ts` column, in the order they have
# actually occurred in driver snapshots (FIXTURES.md):
#   - "nanos_long": parquet INT64 epoch-nanos (either a plain BIGINT
#     column, or TIMESTAMP(NANOS) surfaced as BIGINT under the
#     `nanosAsLong` conf session.configure sets).
#   - "ntz_micros": parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
#     which Spark reads as TIMESTAMP_NTZ.
#   - "ltz_micros": parquet TIMESTAMP(MICROS, isAdjustedToUTC=true)
#     (instant semantics — e.g. files Spark itself wrote from
#     TimestampType), which Spark reads as session-local TIMESTAMP.
#     Distinguished from ntz via the pyarrow tz flag: declaring NTZ
#     for an adjusted-to-UTC file would only be value-correct because
#     configure() pins the session to UTC — classify honestly instead.
# Batch reads branch on the loaded dtype; the STREAMING file source
# needs the schema up front, so it sniffs one parquet footer via
# pyarrow (no JVM round-trip) with `sniff_events_ts_shape`.
TS_SHAPE_NANOS_LONG = "nanos_long"
TS_SHAPE_NTZ_MICROS = "ntz_micros"
TS_SHAPE_LTZ_MICROS = "ltz_micros"


def sniff_events_ts_shape(path: str, default: str = TS_SHAPE_NANOS_LONG) -> str:
    """Classify the on-disk `ts` shape of an events parquet file/dir.

    Reads ONE footer (O(KB), driver-side, once per query build — never
    per batch). `default` covers a not-yet-populated stream directory;
    callers that know the shape can skip the sniff entirely.
    """
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    if not files:
        return default
    schema = pq.read_schema(files[0])
    if "ts" not in schema.names:
        return default
    t = schema.field("ts").type
    if pa.types.is_timestamp(t) and t.unit != "ns":
        # pyarrow surfaces isAdjustedToUTC as a non-None tz.
        return TS_SHAPE_LTZ_MICROS if t.tz is not None else TS_SHAPE_NTZ_MICROS
    if pa.types.is_timestamp(t) and t.unit == "ns" and t.tz is None:
        # Ambiguous in the arrow view: INT64 TIMESTAMP(NANOS) and
        # legacy INT96 (Spark's pre-4.x TimestampType output) both
        # land here — the parquet PHYSICAL type separates them, and
        # Spark reads INT96 as session-local TimestampType.
        md = pq.read_metadata(files[0]).schema
        for i in range(len(md)):
            col = md.column(i)
            # ColumnSchema exposes the dotted column path as `.path`
            # (`path_in_schema` only exists on ColumnChunkMetaData).
            if col.path == "ts" and col.physical_type == "INT96":
                return TS_SHAPE_LTZ_MICROS
    return TS_SHAPE_NANOS_LONG


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize a loaded events DataFrame's `ts` to session-UTC
    TimestampType (LTZ), whatever shape the reader surfaced:

    - BIGINT epoch-nanos → truncate to micros (exactly DuckDB's read
      of TIMESTAMP(NANOS)).
    - TIMESTAMP_NTZ → cast to ``timestamp_ltz``; value-identical
      because :func:`configure` pins the session timezone to UTC, and
      it matches how DuckDB (tz-naive) sees the same file.

    The explicit ``timestamp_ltz`` target (not plain ``timestamp``)
    stays correct even under ``spark.sql.timestampType=TIMESTAMP_NTZ``.
    Shared by batch :func:`load` and the streaming file source —
    keep it the ONLY place ts-shape handling lives.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return df


# Per-process cache of table read SCHEMAS (StructType), keyed by
# (APPLICATION id, sf_dir, table) — note the application id is shared
# across newSession() clones; uniformity of conf-dependent shapes
# (e.g. nanosAsLong) comes from load()'s configure() call applying
# the same RUNTIME_CONFS to every session that loads through here.
# Not invalidated on in-process file rewrite: the driver's testdata
# is immutable, and anything that rewrites a TABLE file mid-process
# should use a fresh sf_dir. A schema-less `spark.read.parquet`
# runs a one-task footer-inference JOB before the query proper —
# measured r13 at 30-80 ms of wall per `load` call (a 5-table star
# join paid 5 such jobs per build, ~0.3 s of its 1.1 s wall).
# Supplying the schema explicitly skips that job. This caches plan
# METADATA only (never data or results — every query still computes
# from the parquet files); the first load of each table in a process
# still infers from the real footers, so a changed file shape is
# picked up by any fresh process.
_SCHEMA_CACHE: dict[tuple[str, str, str], object] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-read one testdata table as a DataFrame.

    ``events.ts`` is normalized to a session-UTC TimestampType (LTZ)
    whatever the driver session reads from disk — both on-disk shapes
    are handled by :func:`normalize_events_ts` (shared with the
    streaming file source so the two paths can never drift).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    configure(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


# Per-process cache of table scan WIDTH: how many independently
# readable units the parquet scan has (= total row groups across
# files — Spark's vectorized reader assigns each row group to the
# one split containing its midpoint, so splits beyond row groups are
# empty tasks). Metadata-only, read from footers driver-side.
_SCAN_WIDTH_CACHE: dict[tuple[str, str], int] = {}


def scan_width(sf_dir: str, name: str) -> int:
    """Parallelizable units in the scan of one testdata table."""
    key = (sf_dir, name)
    width = _SCAN_WIDTH_CACHE.get(key)
    if width is None:
        import glob
        import os

        import pyarrow.parquet as pq

        path = table_path(sf_dir, name)
        files = (
            [path]
            if os.path.isfile(path)
            else sorted(
                glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            )
        )
        width = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        _SCAN_WIDTH_CACHE[key] = width
    return width


def load_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`load`, round-robin spread to full parallelism when the
    scan itself cannot provide it.

    The driver's testdata tables are single-file single-row-group
    parquet, so a bare scan runs as ONE task regardless of split
    configs; a downstream stage with real per-row CPU (an Arrow
    signature UDF, a wide decimal aggregate) then runs on one core.
    When the footer metadata says the scan has fewer row groups than
    ``defaultParallelism``, pay one exchange of the (small, single
    row group ⇒ ≤128 MB-ish) input to unlock the cores; at cluster
    scale row groups ≫ cores and this is a plain :func:`load` — no
    exchange, no planning cost (the width check is cached footer
    metadata, never a Spark job).

    Use ONLY where the A/B shows the downstream CPU beats the
    exchange: measured r13 on near_dup_minhash (Python signature
    stage) 2.73 s → 1.85 s, while the same spread REGRESSED
    pricing_summary (+0.06 s only), top_parts_per_nation (−0.9 s
    worse) and the events windows (exchange ≥ the saved compute) —
    see OPTIMIZATION_r13.md.
    """
    df = load(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if scan_width(sf_dir, name) < target:
        df = df.repartition(target)
    return df
