"""Streaming jobs: the real-time forms of the batch time-semantics
queries. Each takes an events *streaming* DataFrame (file source in
tests — Kafka in production has the identical downstream code) and
returns a transformed streaming DataFrame; callers pick sink + mode.

Watermark policy (T4): the reference uses ~3s bounded out-of-
orderness on second-scale windows [R]; testdata is 30 days of
hour-scale windows, so delays are parameters. Late rows below the
watermark are DROPPED by Spark (no side output for late data —
documented divergence, SURVEY.md §7 hard-parts #4); the T4 test
demonstrates the drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from flink_realtime_edu_spark.functions import dec_sum
from flink_realtime_edu_spark.session import configure
from flink_realtime_edu_spark.sources import (
    TS_SHAPE_LTZ_MICROS,
    TS_SHAPE_NANOS_LONG,
    normalize_events_ts,
    sniff_events_ts_shape,
)


def events_file_schema(ts_shape: str) -> StructType:
    """Read schema for events-shaped parquet. The streaming file
    source needs an explicit schema up front, and the driver's
    snapshots have shipped `ts` in two shapes (INT64 epoch-nanos and
    TIMESTAMP_NTZ micros — see sources.sniff_events_ts_shape; the
    third, adjusted-to-UTC micros, covers files Spark itself wrote
    from TimestampType), so the ts field is shape-dependent;
    everything else is fixed."""
    if ts_shape == TS_SHAPE_NANOS_LONG:
        ts_type: object = LongType()
    elif ts_shape == TS_SHAPE_LTZ_MICROS:
        ts_type = TimestampType()
    else:
        ts_type = TimestampNTZType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def load_events_kafka(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """S1 proper: the Kafka form of the events source — JSON records
    on a per-layer topic, exactly the reference's ODS layout [R].
    Parses `value` with the same schema the file source uses, so
    every downstream job in this module runs unchanged on either
    source. No broker exists in this test container (and the kafka
    connector jar ships separately), so this builder is exercised in
    production deployments, not in tests/ — the file source below is
    the tested stand-in with identical downstream semantics."""
    configure(spark)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
            "value DOUBLE, props STRING",
        ).alias("r")
    ).select("r.*")
    # Wire contract (ours, defined here + write_kafka, pinned by
    # tests/test_streaming.py::test_kafka_payload_roundtrip_contract
    # and the ts-range unit test): JSON records carry `ts` as epoch-
    # MILLIS — the conventional unit of log-shipped JSON (it fits a
    # double-backed JSON number; nanos would not round-trip through
    # lossy JSON parsers). Normalize to session-UTC TimestampType.
    return parsed.withColumn("ts", F.timestamp_millis(F.col("ts")))


def kafka_json_payload(df: DataFrame) -> DataFrame:
    """Encode rows to the single-column `value` JSON payload the Kafka
    sink ships. Timestamp columns are serialized as epoch-millis LONGs
    (not the ISO-8601 string `to_json` would emit) so a write_kafka →
    load_events_kafka round-trip over a DWD topic is lossless at
    millisecond precision — producer and consumer share ONE wire
    format. Batch-testable (no broker needed); pinned by
    test_kafka_payload_roundtrip_contract + the ts-unit test."""
    cols = [
        F.unix_millis(F.col(name).cast("timestamp_ltz")).alias(name)
        if dtype in ("timestamp", "timestamp_ntz")
        else F.col(name)
        for name, dtype in df.dtypes
    ]
    return df.select(F.to_json(F.struct(*cols)).alias("value"))


def write_kafka(df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str):
    """S4: DWD fact out to a Kafka topic as JSON (the reference's
    per-fact DWD topics [R]). Returns the started StreamingQuery."""
    payload = kafka_json_payload(df)
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def load_events_stream(
    spark: SparkSession,
    directory: str,
    max_files_per_trigger: int | None = None,
    ts_shape: str | None = None,
) -> DataFrame:
    """File-source stream over events-shaped parquet files (the Kafka
    stand-in, S1). `maxFilesPerTrigger` slices the replay into
    multiple micro-batches to exercise cross-batch state.

    `ts_shape` (sources.TS_SHAPE_*) pins the on-disk ts layout; when
    None it is sniffed from one parquet footer already in `directory`.
    A directory that is EMPTY at plan time defaults to the nanos-long
    shape — pass `ts_shape` explicitly if later-arriving files will
    carry TIMESTAMP_NTZ. Either way `ts` is normalized to session-UTC
    TimestampType by the same `normalize_events_ts` the batch loader
    uses, so the two paths cannot drift."""
    configure(spark)
    if ts_shape is None:
        ts_shape = sniff_events_ts_shape(directory)
    reader = spark.readStream.schema(events_file_schema(ts_shape))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(reader.parquet(directory))


def tumbling_stats_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T1 streaming twin of queries.time_semantics.tumbling_hourly_stats:
    identical aggregation + withWatermark for state eviction."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_stats_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T2 streaming twin of sliding_window_traffic (1h window / 30min
    slide): each event feeds 2 overlapping windows; state per window
    evicted once the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def enrich_events_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """J3 streaming: stream–static broadcast join — the reference's
    async HBase dim lookup with Redis cache [R] re-expressed on
    Structured Streaming. The static side is re-resolved every
    micro-batch (so dim updates land on batch boundaries — the
    cache-refresh analogue) and broadcast, keeping the unbounded
    stream side entirely shuffle-free; left join so facts without a
    dim row survive with NULLs (the reference side-outputs these for
    retry [R] — here they are filterable downstream).

    `dim` must already expose the join key as `user_id`.

    Dim refresh caveat (pinned by tests/test_streaming.py::
    test_dim_update_lands_on_microbatch_boundary): a path-bound
    static DataFrame captures its file listing at analysis time, so
    an overwritten snapshot is NOT picked up by later micro-batches
    of a running query. For dims that update while the stream runs,
    re-read the snapshot inside foreachBatch (fresh listing per
    batch — updates land exactly on batch boundaries)."""
    return events.join(F.broadcast(dim), on="user_id", how="left")


def temporal_join_stream(facts: DataFrame, versioned_dim: DataFrame) -> DataFrame:
    """J8/S2 streaming: stream–static TEMPORAL join — Flink's
    ``FOR SYSTEM_TIME AS OF fact.ts`` [R] on Structured Streaming.
    ``versioned_dim`` is an SCD2 table keyed by user_id with
    half-open [valid_from, valid_to) validity (built by
    queries/temporal.py::state_intervals, or any dim snapshot
    history); each streamed fact left-joins the version covering its
    event time, so late-arriving facts still bind their historical
    version — the property a plain latest-value dim join loses.

    The static side re-resolves every micro-batch (version updates
    land on batch boundaries) and is broadcast: user_id is the equi
    key, containment is the join residual, and the unbounded stream
    side never shuffles."""
    dim = versioned_dim.select(
        F.col("user_id").alias("dim_user_id"),
        F.col("state").alias("dim_state"),
        "valid_from",
        "valid_to",
    )
    cond = (
        (F.col("dim_user_id") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("ts"))
        & ((F.col("ts") < F.col("valid_to")) | F.col("valid_to").isNull())
    )
    return (
        facts.join(F.broadcast(dim), cond, "left")
        .drop("dim_user_id", "valid_from", "valid_to")
        .withColumnRenamed("dim_state", "state_asof")
    )


def session_stats_stream(events: DataFrame, gap: str = "12 hours", watermark: str = "1 hour") -> DataFrame:
    """T3 streaming twin of session_window_stats (same gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_users_stream(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """T5 streaming dedup: first event per (day, user). With a
    watermark uses dropDuplicatesWithinWatermark (state evicted as
    event time advances — the production form; the reference's
    ValueState+TTL [R]); without, exact unbounded-state dedup."""
    keyed = events.select(F.to_date("ts").alias("day"), "user_id", "ts")
    if watermark is None:
        return keyed.dropDuplicates(["day", "user_id"]).drop("ts")
    return (
        keyed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["day", "user_id"])
        .drop("ts")
    )


def interval_join_stream(
    events: DataFrame, watermark: str = "2 days", horizon: str = "INTERVAL 1 DAY"
) -> DataFrame:
    """J9/T-side twin of interval_join_click_purchase: stream-stream
    inner join, watermarks on BOTH sides + a time-bound condition so
    join state is evictable (without the bound, state grows forever)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(horizon))
    )
    return clicks.join(purchases, cond).select(
        "click_id", "purchase_id", F.col("c_user_id").alias("user_id")
    )


def interval_join_outer_stream(
    events: DataFrame, watermark: str = "2 days", horizon: str = "INTERVAL 1 DAY"
) -> DataFrame:
    """J9 + J2: stream-stream LEFT OUTER interval join. Matched pairs
    emit like the inner form; a click with NO purchase inside its
    [c_ts, c_ts + horizon] window emits null-padded only once the
    watermark has passed the window end (before that, a match could
    still arrive — Spark holds the row in state). This is the
    streaming twin of the batch abandoned-click anti-join (T7):
    unmatched rows ARE the timeout detections. SURVEY.md §7 hard
    part #4: rows still inside the horizon at end-of-stream never
    emit — documented, asserted in tests, not fought."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(horizon))
    )
    return clicks.join(purchases, cond, "leftOuter").select(
        "click_id", "purchase_id", F.col("c_user_id").alias("user_id"), "c_ts"
    )


def layered_warehouse_stream(
    events: DataFrame, user_dim: DataFrame, watermark: str = "1 hour"
):
    """The reference's full layered architecture [R] composed as ONE
    streaming job — ODS → DWD → DWS in a single incrementalized plan,
    the ADS layer being batch SQL over the DWS table it maintains:

    - **ODS**: the raw events stream (file source in tests, Kafka via
      ``load_events_kafka`` in production — identical downstream).
    - **DWD**: cleaning + splitting + dim enrichment: parse the
      ``props`` JSON payload (`from_json` → NULL on dirty rows, the
      side-output rule S7), keep the behavior facts, and broadcast-
      join the user dim (J3 stream–static lookup; `user_dim` must
      expose `user_id` + `nation`).
    - **DWS**: per-day per-(event_type, nation) windowed aggregate
      with a watermark for state eviction (T1), written in update
      mode through the idempotent ``upsert_latest_by_key`` sink (T8 —
      the ClickHouse ReplacingMergeTree analogue). ``n_events`` only
      grows as a window accumulates, so it doubles as the upsert
      version column — replays converge on the same table state.

    Returns the DWS streaming DataFrame; callers attach the sink
    (tests) or ``foreachBatch(upsert_latest_by_key(dws_dir, ...))``.

    ``watermark`` must cover the source's out-of-orderness: for a
    live Kafka stream the reference's seconds-scale delay suffices;
    REPLAYING unordered history (the test replays 30 days across 4
    unsorted micro-batches) needs a delay ≥ the replay span or
    genuinely-late rows are dropped from the aggregates (T4 rule) and
    the result diverges from batch.
    """
    dwd = (
        events.withColumn("k", F.from_json("props", "k INT").getField("k"))
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .join(F.broadcast(user_dim), on="user_id", how="left")
    )
    return (
        dwd.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("w"), "event_type", "nation"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
            F.count("k").alias("n_with_props"),
        )
        .select(
            F.col("w.start").alias("day_start"),
            "event_type",
            "nation",
            "n_events",
            "sum_value",
            "n_with_props",
        )
    )


def ads_top_segments(dws: DataFrame, k: int = 5) -> DataFrame:
    """ADS serving query over the DWS table (batch, like the
    reference's ClickHouse SQL layer [R]): top-k (event_type, nation)
    segments by total value across days, deterministic tie-break."""
    totals = dws.groupBy("event_type", "nation").agg(
        dec_sum("sum_value").alias("total_value"),
        F.sum("n_events").alias("total_events"),
    )
    return totals.orderBy(
        F.col("total_value").desc(), "event_type", "nation"
    ).limit(k)
