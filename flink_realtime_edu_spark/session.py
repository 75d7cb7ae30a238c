"""SparkSession construction and the runtime confs every query assumes.

The driver hands us an already-built SparkSession, so the confs that
matter for oracle agreement (session timezone) and for performance
(AQE, Arrow) are applied idempotently via :func:`configure`, which
every query builder calls. :func:`get_spark` is used by our own
tests / bench, mirroring the driver's ``local[$SPARK_GRAFT_CPUS]``
setup.

Scale posture (SURVEY.md §4.4): AQE is left on so shuffle partition
counts coalesce/split at runtime on a real cluster; the static
``spark.sql.shuffle.partitions`` is only the pre-AQE ceiling.
:func:`get_spark` sets it to the session's cores
(``sparkContext.defaultParallelism``, N under ``local[N]``), the
Flink task-slot rule. For a stateful stream it is also the number of
state-store partitions, which AQE does not coalesce: every trigger,
even an empty watermark-advancing one, runs that many state tasks. A
checkpoint keeps the count it first started with, whatever the value
on restart.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (mutable) confs — safe to set on a live session.
RUNTIME_CONFS: dict[str, str] = {
    # Oracle agreement: DuckDB timestamps are tz-naive; run Spark in UTC
    # so date_trunc/window/to_date agree bit-for-bit (FIXTURES.md note 2).
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write TimestampType as TIMESTAMP(MICROS, adjustedToUTC=true),
    # not the deprecated INT96 default — footer-sniffable (pyarrow
    # surfaces the tz flag), DuckDB-readable, and micros matches the
    # engine's timestamp semantics end-to-end.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Kept ONLY for backward compatibility with older testdata
    # snapshots whose events.ts was TIMESTAMP(NANOS) (the current
    # shape is TIMESTAMP(MICROS, isAdjustedToUTC=false) → NTZ, which
    # this conf does not affect): nanos files read as epoch-nanos
    # BIGINT, which sources.normalize_events_ts truncates to micros
    # exactly like DuckDB reads nanos. Both shapes are covered by
    # tests/test_streaming.py::test_ts_shape_drift_guard.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to a live session; idempotent and cheap."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not settable at runtime on this build — leave as-is.
            pass
    return spark


# BATCH-ANALYTICS-ONLY confs, applied via configure_batch by every
# REGISTERED query build (queries/__init__.register wraps the
# builders) but NOT by the shared configure() the streaming jobs call.
#
# AQE coalescing floor (r13). With parallelismFirst (default true)
# AQE merges post-shuffle partitions up to THIS size, ignoring the
# advisory target, so the 1m default serializes CPU-dense small-byte
# stages: measured at sf0.1, the 7.4 MB exchange feeding
# top_parts_per_nation's final agg + window coalesced to 6 tasks
# (2.3 s of CPU on 6 of 32 cores) and near_dup_minhash's 830 KB
# shingle exchange to 1 task. 64k keeps such stages wide; at cluster
# scale post-shuffle partitions sit at/above the advisory size, so
# the floor never binds there. Scoped to batch builds because the
# SAME floor regressed the foreachBatch micro-batch ingest sinks
# 15-30 % (ivf_index 206 → ~160 rows/s, scripts/ingest_throughput.py
# A/B): a ~250-row micro-batch wants FEWER tasks, exactly what the
# default floor's coalescing provides.
BATCH_CONFS: dict[str, str] = {
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64kb",
}


def configure_batch(spark: SparkSession) -> SparkSession:
    """configure() plus the batch-analytics-only confs. Confs are
    session-global: a session interleaving registered batch queries
    with streaming sinks keeps the batch floor from the first
    registered build on — value-neutral either way (the floor moves
    task counts, never results); the driver, bench.run_spark and
    bench.run_streaming each use a dedicated session."""
    configure(spark)
    for key, value in BATCH_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # noqa: BLE001 — never fail a build on conf
            # A conf this build rejects would otherwise silently disable
            # the r13 AQE floor — warn so it is visible (ADVICE r13).
            import warnings

            warnings.warn(
                f"configure_batch: could not set {key}={value!r}: {exc}",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


MATERIALIZE_CONF = "spark.flink_realtime_edu.materialize"


def materialize(df, eager: bool = False, keep_partitioning: bool = False):
    """Pin a small multi-consumer or iterative frame so it computes
    once (AQE does not stage-reuse duplicated subtrees — measured on
    4.1.2, see operators/dedup.py), selected by the session conf
    ``spark.flink_realtime_edu.materialize``:

    - ``localCheckpoint`` (default): fastest locally, but blocks live
      only on executor storage and lineage is TRUNCATED — on a
      preemptible cluster an executor loss makes the frame
      unrecoverable and fails the job. The right default for the
      driver's single-JVM local mode.
    - ``persist``: ``StorageLevel.MEMORY_AND_DISK`` with lineage
      KEPT — after executor loss Spark recomputes the lost partitions
      from source. The cluster-mode setting; marginally slower
      locally (block-manager bookkeeping, no lineage cut for
      iterative consumers).

    ``eager`` forces computation NOW (iterative algorithms that must
    cut lineage per round, or frames whose inputs are about to be
    overwritten — though overwrite safety should come from staged
    swaps, not from caching).

    ``keep_partitioning`` forces the persist path regardless of the
    conf: a localCheckpoint scan reports UnknownPartitioning (r14 —
    visible as `Scan ExistingRDD ... UnknownPartitioning(0)` in the
    plan), so a frame that was repartitioned BY KEY for its consumers
    loses that fact and every keyed consumer re-plans an exchange;
    the cached InMemoryRelation keeps its child's partitioning AND is
    reused across separate query executions (the iterative-fit shape:
    one shuffle, many per-step readers). Only worth it when consumers
    key on the frame's partitioning — persist blocks stay resident in
    the CacheManager until the session ends."""
    mode = df.sparkSession.conf.get(MATERIALIZE_CONF, "localCheckpoint")
    if mode == "persist" or keep_partitioning:
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            df.count()
        return df
    return df.localCheckpoint(eager=eager)


def get_spark(
    app_name: str = "flink-realtime-edu-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session mirroring the driver's environment.

    ``SPARK_GRAFT_CPUS`` selects local parallelism (default all cores).
    ``spark.sql.shuffle.partitions`` defaults to the session's cores,
    ``sparkContext.defaultParallelism``: at test scale every partition
    fits in memory, and batch stages re-coalesce under AQE anyway. For
    a stateful stream the value is the state-store count, which AQE
    does not coalesce, so a fixed ceiling above the cores only adds
    task waves to every trigger. A streaming checkpoint keeps the count
    it first started with, whatever the value on restart.
    ``shuffle_partitions`` pins the value instead (plan snapshots,
    tests that need a fixed exchange width).
    """
    from pyspark import SparkContext

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if SparkContext._active_spark_context is None:
        import tempfile

        # Static conf: bucketed-table tests saveAsTable; keep the
        # warehouse out of the repo. A live context ignores it, so the
        # directory is made only when getOrCreate starts a new one.
        builder = builder.config(
            "spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark-wh-")
        )
    spark = configure(builder.getOrCreate())
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
