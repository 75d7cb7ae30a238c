"""Streaming ≡ batch equivalence (SURVEY.md §7 M3).

Structured Streaming's prefix-consistency guarantee: at end of
stream, the streaming result equals the batch query over the same
data. Each test replays events.parquet through a file source and
compares against the oracle-checked batch query.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from flink_realtime_edu_spark.queries import load_registry
from flink_realtime_edu_spark.sources import load, table_path
from flink_realtime_edu_spark.streaming import (
    await_progress,
    dedup_users_stream,
    interval_join_stream,
    load_events_stream,
    run_to_completion,
    tumbling_stats_stream,
    upsert_latest_by_key,
)

REGISTRY = load_registry()


@pytest.fixture()
def events_dir(tmp_path, sf_dir):
    d = tmp_path / "events_in"
    d.mkdir()
    shutil.copy(table_path(sf_dir, "events"), d / "part-000.parquet")
    return str(d)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    stream = tumbling_stats_stream(load_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("t1_complete")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = spark.sql("SELECT * FROM t1_complete")
    want = REGISTRY["tumbling_hourly_stats"].build(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_append_mode_withholds_only_unfinalized_windows(spark, sf_dir, events_dir, tmp_path):
    """T9: append emits only windows the watermark has passed; at
    end-of-stream the last hour(s) stay open. emitted ⊆ batch."""
    stream = tumbling_stats_stream(load_events_stream(spark, events_dir), watermark="1 hour")
    q = (
        stream.writeStream.format("memory")
        .queryName("t1_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = set(_rows(spark.sql("SELECT * FROM t1_append")))
    want = set(_rows(REGISTRY["tumbling_hourly_stats"].build(spark, sf_dir)))
    assert got <= want
    # everything except the unfinalized tail (≤ 2h × 5 types) arrived
    assert len(got) >= len(want) - 10


def test_late_rows_below_watermark_dropped(spark, tmp_path):
    """T4: a row older than watermark - delay is silently dropped."""
    src = tmp_path / "late_src"
    src.mkdir()
    ev = load(spark, "/root/testdata/sf0.001", "events").limit(0)

    def write_batch(name: str, ts: str):
        row = spark.createDataFrame(
            [(1, ts, 1, "click", 1.0, "{}")],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            F.unix_micros(F.to_timestamp("ts_s")).cast("long").alias("us"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).select(
            "event_id",
            (F.col("us") * 1000).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        row.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for i, f in enumerate((tmp_path / "stage").glob("*.parquet")):
            shutil.copy(f, src / f"{name}-{i}.parquet")

    assert ev.count() == 0  # schema handle only
    stream = tumbling_stats_stream(load_events_stream(spark, str(src)), watermark="30 minutes")
    write_batch("a", "2024-01-01 00:10:00")
    q = (
        stream.writeStream.format("memory")
        .queryName("t4_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()          # batch 1: watermark -> 23:40 prev day
    write_batch("b", "2024-01-01 05:00:00")
    q.processAllAvailable()          # watermark -> 04:30; hour 00 finalized+emitted
    write_batch("c", "2024-01-01 00:20:00")  # LATE: below 04:30 watermark
    q.processAllAvailable()
    write_batch("d", "2024-01-01 09:00:00")  # push watermark past hour 05
    run_to_completion(q)
    got = {
        (r["window_start"].isoformat(), r["n_events"])
        for r in spark.sql("SELECT * FROM t4_late").collect()
    }
    # hour 00 was finalized with ONE event; the late second event never counted
    assert ("2024-01-01T00:00:00", 1) in got
    assert ("2024-01-01T00:00:00", 2) not in got


def test_sliding_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """T2 streaming: complete-mode sliding windows == batch query."""
    from flink_realtime_edu_spark.streaming.jobs import sliding_stats_stream

    stream = sliding_stats_stream(load_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("t2_sliding")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = spark.sql("SELECT * FROM t2_sliding")
    want = REGISTRY["sliding_window_traffic"].build(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_stream_static_dim_join_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """J3 streaming: stream–static broadcast dim enrichment ≡ the
    same left join in batch, and the micro-batch plan must broadcast
    the dim (no shuffle on the stream side)."""
    from flink_realtime_edu_spark.streaming import enrich_events_stream

    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_nationkey").alias("nationkey"),
    )
    enriched = enrich_events_stream(load_events_stream(spark, events_dir), dim)
    q = (
        enriched.writeStream.format("memory")
        .queryName("j3_enrich")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    plan = q._jsq.explainInternal(False)  # what StreamingQuery.explain prints
    q.stop()
    q.awaitTermination()
    assert "BroadcastHashJoin" in plan
    got = spark.sql("SELECT * FROM j3_enrich")
    want = load(spark, sf_dir, "events").join(dim, on="user_id", how="left")
    assert _rows(got.drop("ts")) == _rows(want.drop("ts"))


def test_stateful_timers_abandoned_clicks(spark, tmp_path):
    """T7 streaming: GroupState event-time timers fire per click with
    no purchase by the same user within 15 min (the reference's
    order-no-pay timer). user 1 purchases in time (matched), user 2
    never purchases (timer fires), user 3 purchases too late (timer
    fires anyway)."""
    from flink_realtime_edu_spark.streaming.stateful import detect_abandoned_stream

    src = tmp_path / "t7_src"
    src.mkdir()

    def write_batch(name: str, rows):
        df = spark.createDataFrame(
            [(i, ts, uid, et, 1.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            (F.unix_micros(F.to_timestamp("ts_s")).cast("long") * 1000).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for i, f in enumerate((tmp_path / "stage").glob("*.parquet")):
            shutil.copy(f, src / f"{name}-{i}.parquet")

    stream = detect_abandoned_stream(
        load_events_stream(spark, str(src)), timeout_ms=900_000, watermark="1 minute"
    )
    write_batch(
        "a",
        [
            ("2024-01-01 00:00:00", 1, "click"),
            ("2024-01-01 00:05:00", 1, "purchase"),
            ("2024-01-01 00:00:00", 2, "click"),
            ("2024-01-01 00:00:00", 3, "click"),
            ("2024-01-01 00:20:00", 3, "purchase"),  # outside the 15 min window
        ],
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t7_timers")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # Run one more micro-batch so the watermark advanced by batch a's
    # own purchases (max ts 00:20 - 1 min delay = 00:19, past both
    # horizons at 00:15) takes effect and fires the timers. NOTE the
    # view row itself does NOT move the watermark: the operator's
    # click/purchase filter is pushed below the EventTimeWatermark
    # node, so filtered-out rows never count (pinned by the tie test
    # below, which must advance the watermark with a purchase).
    write_batch("b", [("2024-01-01 03:00:00", 99, "view")])
    run_to_completion(q)
    got = {
        (r["user_id"], r["click_ts"].isoformat())
        for r in spark.sql("SELECT * FROM t7_timers").collect()
    }
    assert got == {(2, "2024-01-01T00:00:00"), (3, "2024-01-01T00:00:00")}


def test_abandoned_stream_same_timestamp_purchase_first_in_batch(spark, tmp_path):
    """T7 regression pin (the r2 bug): a purchase at the SAME event
    time as its click, written BEFORE the click in the batch file, so
    the rows reach the state function purchase-first. The two-phase
    replay (ingest batch clicks, then apply batch purchases) must
    still match them — the old in-arrival-order replay emitted a
    false timeout. Spark-level twin of the hypothesis counterexample
    in tests/test_properties.py."""
    from flink_realtime_edu_spark.streaming.stateful import detect_abandoned_stream

    src = tmp_path / "t7_tie_src"
    src.mkdir()

    def write_batch(name: str, rows):
        df = spark.createDataFrame(
            [(i, ts, uid, et, 1.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            (F.unix_micros(F.to_timestamp("ts_s")).cast("long") * 1000).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for i, f in enumerate((tmp_path / "stage").glob("*.parquet")):
            shutil.copy(f, src / f"{name}-{i}.parquet")

    stream = detect_abandoned_stream(
        load_events_stream(spark, str(src)), timeout_ms=900_000, watermark="1 minute"
    )
    write_batch(
        "a",
        [
            ("2024-01-01 00:00:00", 7, "purchase"),  # arrives before its click
            ("2024-01-01 00:00:00", 7, "click"),
            ("2024-01-01 00:00:00", 8, "click"),  # control: genuinely abandoned
        ],
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t7_tie")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # Advance the watermark with a row that SURVIVES the operator's
    # click/purchase filter: Catalyst pushes deterministic filters
    # below the EventTimeWatermark node, so a 'view' row would be cut
    # before watermark tracking and never advance it (the wm in the
    # sibling test above is advanced by batch a's own purchases).
    write_batch("b", [("2024-01-01 03:00:00", 99, "purchase")])
    q.processAllAvailable()  # ingest b -> wm advances after this batch
    write_batch("c", [("2024-01-01 06:00:00", 98, "purchase")])
    run_to_completion(q)  # timers fire in the batches that follow
    got = {(r["user_id"], r["click_ts"].isoformat()) for r in spark.sql("SELECT * FROM t7_tie").collect()}
    # user 7's click matched (no false timeout); user 8's fired.
    assert got == {(8, "2024-01-01T00:00:00")}


def test_session_stream_emits_finalized_sessions(spark, sf_dir, events_dir, tmp_path):
    """T3 streaming: append-mode session windows — everything emitted
    must match the batch sessionization, and only sessions the
    watermark could not yet close may be missing (≤ 1 open session
    per user at end-of-stream)."""
    from flink_realtime_edu_spark.streaming import session_stats_stream

    stream = session_stats_stream(load_events_stream(spark, events_dir), watermark="1 hour")
    q = (
        stream.writeStream.format("memory")
        .queryName("t3_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = set(_rows(spark.sql("SELECT * FROM t3_sessions")))
    want = set(_rows(REGISTRY["session_window_stats"].build(spark, sf_dir)))
    n_users = 15  # sf0.001 user domain
    assert got <= want
    assert len(got) >= len(want) - n_users


def test_dedup_stream_equals_batch_uv(spark, sf_dir, events_dir, tmp_path):
    """T5: streaming dedup (watermarked) → daily UV equals batch."""
    stream = dedup_users_stream(
        load_events_stream(spark, events_dir), watermark="40 days"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t5_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = (
        spark.sql("SELECT * FROM t5_dedup")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("uv"))
    )
    want = REGISTRY["daily_unique_visitors"].build(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """J9: watermarked stream-stream join ≡ batch interval join."""
    events = load_events_stream(spark, events_dir)
    joined = interval_join_stream(events)
    q = (
        joined.writeStream.format("memory")
        .queryName("j9_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = spark.sql("SELECT * FROM j9_join")
    want = REGISTRY["interval_join_click_purchase"].build(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_update_mode_converges_to_batch(spark, sf_dir, tmp_path):
    """T9 update mode: each micro-batch emits changed windows; the
    LAST emission per key must equal the batch result."""
    src = tmp_path / "events_split"
    spark.read.parquet(table_path(sf_dir, "events")).repartition(4).write.parquet(str(src))
    # The 4 splits are round-robin, so every micro-batch spans the
    # whole month: a short watermark would (correctly) drop batches
    # 2-4 as late. Use a delay wider than the data span so update
    # mode can converge to the batch result.
    stream = tumbling_stats_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1), watermark="40 days"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t9_update")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    # The memory sink keeps every update; window counts only grow, so
    # the final state per key is the row with the max n_events.
    from pyspark.sql import Window

    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("n_events").desc()
    )
    got = (
        spark.sql("SELECT * FROM t9_update")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    want = REGISTRY["tumbling_hourly_stats"].build(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_foreachbatch_upsert_latest_per_key(spark, sf_dir, tmp_path):
    """T8: multi-micro-batch foreachBatch upsert converges to the
    batch latest-per-key result (ReplacingMergeTree semantics)."""
    src = tmp_path / "events_split"
    # split into 4 files → 4 micro-batches with maxFilesPerTrigger=1
    load(spark, sf_dir, "events").repartition(4).write.parquet(str(src))
    raw = spark.read.parquet(table_path(sf_dir, "events"))  # keep ts long
    raw.repartition(4).write.mode("overwrite").parquet(str(src))

    target = tmp_path / "latest_by_user"
    target.mkdir()
    stream = load_events_stream(spark, str(src), max_files_per_trigger=1).select(
        "user_id", "event_id", "event_type", "ts"
    )
    q = (
        stream.writeStream.foreachBatch(
            upsert_latest_by_key(str(target), ["user_id"], "ts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = spark.read.parquet(str(target)).select("user_id", "event_id", "event_type", "ts")
    want = REGISTRY["latest_event_per_user"].build(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_transform_with_state_first_visit(spark, sf_dir, events_dir, tmp_path):
    """T6: custom keyed state (transformWithStateInPandas) tags
    new-vs-returning identically to the batch window re-expression."""
    from flink_realtime_edu_spark.streaming.stateful import tag_new_vs_returning

    stream = tag_new_vs_returning(load_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("t6_state")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = (
        spark.sql("SELECT * FROM t6_state")
        .groupBy(F.col("day"))
        .agg(
            F.countDistinct(F.when(F.col("is_new"), F.col("user_id"))).alias("new_users"),
            F.countDistinct(F.when(~F.col("is_new"), F.col("user_id"))).alias("returning_users"),
        )
        .withColumn("day", F.to_date("day"))
    )
    want = REGISTRY["new_vs_returning_daily"].build(spark, sf_dir)
    assert _rows(got.select("day", "new_users", "returning_users")) == _rows(
        want.select("day", "new_users", "returning_users")
    )


def test_layered_warehouse_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The composed ODS→DWD→DWS→ADS pipeline (the reference's whole
    architecture as one job): replay events in 4 micro-batches,
    maintain the DWS table via the idempotent upsert sink, then the
    ADS batch query over the maintained table must equal the same
    layered computation done directly in batch."""
    from flink_realtime_edu_spark.streaming.jobs import (
        ads_top_segments,
        layered_warehouse_stream,
        load_events_stream,
    )

    # Split events into 4 files so the file source replays them as
    # separate micro-batches (cross-batch agg state + upserts).
    src = tmp_path / "ods"
    load(spark, sf_dir, "events").withColumn(
        "ts", F.unix_micros("ts") * 1000  # back to the on-disk nanos shape
    ).repartition(4).write.parquet(str(src))

    dim = (
        load(spark, sf_dir, "customer")
        .join(
            load(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    dws_dir = str(tmp_path / "dws")
    # Watermark must cover the replay's out-of-orderness (30 days of
    # history in unsorted micro-batches) or late rows drop (T4).
    dws = layered_warehouse_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        dim,
        watermark="60 days",
    )
    q = (
        dws.writeStream.outputMode("update")
        .foreachBatch(upsert_latest_by_key(dws_dir, ["day_start", "event_type", "nation"], "n_events"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)

    # Batch re-expression of the same layering over the same data.
    ev = load(spark, sf_dir, "events")
    batch_dwd = (
        ev.withColumn("k", F.from_json("props", "k INT").getField("k"))
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .join(dim, on="user_id", how="left")
    )
    batch_dws = (
        batch_dwd.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type", "nation"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,8)")).cast("double"), 2).alias("sum_value"),
            F.count("k").alias("n_with_props"),
        )
        .select(
            F.col("w.start").alias("day_start"),
            "event_type", "nation", "n_events", "sum_value", "n_with_props",
        )
    )
    got_dws = spark.read.parquet(dws_dir)
    assert _rows(got_dws) == _rows(batch_dws)
    # ADS layer: serving query over the maintained table == over batch.
    assert _rows(ads_top_segments(got_dws)) == _rows(ads_top_segments(batch_dws))


def test_stream_split_union_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """U1 streaming: the reference's DWD split-then-union shape
    (Flink `union`) — fork one stream into per-fact branches with
    different transforms, unionByName them back, aggregate, and the
    end-of-stream result must equal the same split/union in batch."""
    stream = load_events_stream(spark, events_dir)

    def split_union(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.lit("behavior").alias("fact"), F.col("value")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.lit("trade").alias("fact"), (F.col("value") * 2).alias("value")
        )
        return (
            clicks.unionByName(purchases)
            .groupBy("fact")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(30,8)")).cast("double"), 2).alias("total"),
            )
        )

    q = (
        split_union(stream)
        .writeStream.format("memory")
        .queryName("u1_split_union")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = spark.sql("SELECT * FROM u1_split_union")
    want = split_union(load(spark, sf_dir, "events"))
    assert _rows(got) == _rows(want)


def test_layered_pipeline_survives_restart_from_checkpoint(spark, sf_dir, tmp_path):
    """Kill the layered job mid-replay and restart it from the same
    checkpoint: offset tracking resumes where it stopped, agg state is
    recovered from the state store, and the idempotent upsert sink
    converges to exactly the batch answer — the reference's
    checkpoint/restore + ReplacingMergeTree end-to-end guarantee."""
    from flink_realtime_edu_spark.streaming.jobs import (
        layered_warehouse_stream,
        load_events_stream,
    )

    src = tmp_path / "ods"
    load(spark, sf_dir, "events").withColumn(
        "ts", F.unix_micros("ts") * 1000
    ).repartition(4).write.parquet(str(src))
    dim = (
        load(spark, sf_dir, "customer")
        .join(load(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    dws_dir, ckpt = str(tmp_path / "dws"), str(tmp_path / "ckpt")

    def start():
        dws = layered_warehouse_stream(
            load_events_stream(spark, str(src), max_files_per_trigger=1),
            dim,
            watermark="60 days",
        )
        return (
            dws.writeStream.outputMode("update")
            .foreachBatch(
                upsert_latest_by_key(dws_dir, ["day_start", "event_type", "nation"], "n_events")
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    # let ≥2 micro-batches commit, then kill mid-stream; bounded wait
    # that re-raises if the query dies (a bare poll loop hangs forever)
    await_progress(q1, min_batch_id=1)
    q1.stop()
    q1.awaitTermination()

    q2 = start()  # same checkpoint → resumes from committed offsets
    run_to_completion(q2)

    ev = load(spark, sf_dir, "events")
    batch_dws = (
        ev.withColumn("k", F.from_json("props", "k INT").getField("k"))
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .join(dim, on="user_id", how="left")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type", "nation")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,8)")).cast("double"), 2).alias("sum_value"),
            F.count("k").alias("n_with_props"),
        )
        .select(
            F.col("w.start").alias("day_start"),
            "event_type", "nation", "n_events", "sum_value", "n_with_props",
        )
    )
    assert _rows(spark.read.parquet(dws_dir)) == _rows(batch_dws)


def test_get_spark_sizes_shuffle_partitions_to_the_cores(spark):
    """Without ``shuffle_partitions`` the session's shuffle (and so
    state-store) width is its own core count, not a fixed ceiling; an
    explicit value still pins it."""
    from flink_realtime_edu_spark.session import get_spark

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        got = get_spark()
        assert int(got.conf.get("spark.sql.shuffle.partitions")) == (
            got.sparkContext.defaultParallelism
        )
        pinned = get_spark(shuffle_partitions=3)
        assert pinned.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_get_spark_on_a_live_session_makes_no_warehouse_dir(spark):
    """A live SparkContext ignores the static warehouse conf, so a
    second ``get_spark()`` must not leave a fresh empty
    ``spark-wh-*`` directory behind."""
    import tempfile
    from pathlib import Path

    from flink_realtime_edu_spark.session import get_spark

    def warehouses() -> set[Path]:
        return set(Path(tempfile.gettempdir()).glob("spark-wh-*"))

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    before = warehouses()
    try:
        get_spark()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert warehouses() - before == set()


def test_checkpoint_keeps_its_state_store_count_across_restart(
    spark, sf_dir, tmp_path
):
    """Upgrade path for the core-sized shuffle default: a stateful
    stream started at 32 partitions and restarted under 4 keeps the
    checkpoint's 32 state stores and still converges to the batch
    answer; only a fresh checkpoint takes the new count."""
    import pyarrow.parquet as pq

    events = pq.read_table(table_path(sf_dir, "events")).sort_by("ts")
    ts = events.column("ts").to_pylist()
    cut = len(ts) // 2
    while cut < len(ts) and ts[cut] == ts[cut - 1]:
        cut += 1  # ts-strict boundary: no row of the second half is late
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(events.slice(0, cut), src / "part-000.parquet")

    def drain(name, ckpt):
        q = (
            tumbling_stats_stream(load_events_stream(spark, str(src)))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        run_to_completion(q)
        ops = [p["stateOperators"][0] for p in q.recentProgress if p.get("stateOperators")]
        return ops[-1]["numStateStoreInstances"]

    want = _rows(REGISTRY["tumbling_hourly_stats"].build(spark, sf_dir))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        assert drain("ssi_first", tmp_path / "ckpt") == 32
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        pq.write_table(events.slice(cut), src / "part-001.parquet")
        assert drain("ssi_restart", tmp_path / "ckpt") == 32
        assert _rows(spark.sql("SELECT * FROM ssi_restart")) == want
        assert drain("ssi_fresh", tmp_path / "ckpt_fresh") == 4
        assert _rows(spark.sql("SELECT * FROM ssi_fresh")) == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_ts_shape_drift_guard(spark, sf_dir, tmp_path):
    """Permanent guard for the two on-disk events.ts shapes (r2
    regression class): write the SAME rows as INT64 epoch-nanos and
    as TIMESTAMP_NTZ micros, then assert the batch loader and the
    streaming file source produce identical normalized rows on BOTH
    — four path×shape combos, one answer. Catches any future drift
    between sources.load and load_events_stream (which must share
    normalize_events_ts)."""
    from flink_realtime_edu_spark.sources import (
        TS_SHAPE_LTZ_MICROS,
        TS_SHAPE_NANOS_LONG,
        TS_SHAPE_NTZ_MICROS,
        sniff_events_ts_shape,
    )

    ev = load(spark, sf_dir, "events").limit(200).cache()
    nanos_dir = str(tmp_path / "nanos_sf")
    ntz_dir = str(tmp_path / "ntz_sf")
    ltz_dir = str(tmp_path / "ltz_sf")
    ev.withColumn("ts", F.unix_micros("ts") * 1000).write.parquet(
        table_path(nanos_dir, "events")
    )
    ev.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.parquet(
        table_path(ntz_dir, "events")
    )
    # TimestampType writes TIMESTAMP(MICROS, isAdjustedToUTC=true) —
    # the third shape, sniffed via the pyarrow tz flag (ADVICE r3:
    # classifying it NTZ was only value-correct under the UTC pin).
    ev.write.parquet(table_path(ltz_dir, "events"))
    # Fourth shape: legacy INT96 (pre-4.x Spark TimestampType output)
    # — physical INT96 surfaces in arrow as tz-naive nanos, so the
    # sniffer must disambiguate via the parquet PHYSICAL type (the
    # ColumnSchema.path walk; r7 fixed an AttributeError that made
    # this branch unreachable on every ns-unit file).
    int96_dir = str(tmp_path / "int96_sf")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        ev.write.parquet(table_path(int96_dir, "events"))
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    assert sniff_events_ts_shape(table_path(nanos_dir, "events")) == TS_SHAPE_NANOS_LONG
    assert sniff_events_ts_shape(table_path(ntz_dir, "events")) == TS_SHAPE_NTZ_MICROS
    assert sniff_events_ts_shape(table_path(ltz_dir, "events")) == TS_SHAPE_LTZ_MICROS
    assert (
        sniff_events_ts_shape(table_path(int96_dir, "events"))
        == TS_SHAPE_LTZ_MICROS
    )
    # ns-unit INT64 tz-naive (a pandas/pyarrow writer's default) also
    # walks the physical-type loop and must fall through, not crash.
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_file = tmp_path / "ns_naive.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([0], pa.timestamp("ns"))}), ns_file
    )
    assert sniff_events_ts_shape(str(ns_file)) == TS_SHAPE_NANOS_LONG

    want = _rows(ev)
    results = {}
    for tag, d in (
        ("nanos", nanos_dir),
        ("ntz", ntz_dir),
        ("ltz", ltz_dir),
        ("int96", int96_dir),
    ):
        results[f"batch_{tag}"] = _rows(load(spark, d, "events"))
        q = (
            load_events_stream(spark, table_path(d, "events"))
            .writeStream.format("memory")
            .queryName(f"drift_{tag}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        run_to_completion(q)
        results[f"stream_{tag}"] = _rows(spark.sql(f"SELECT * FROM drift_{tag}"))
    for path, rows in results.items():
        assert rows == want, f"{path} diverged from normalized batch rows"


@pytest.mark.slow  # ~54 s; restart-from-checkpoint class stays default via the semantic-dedup/IVF/layered restart tests
def test_abandoned_state_survives_restart_from_checkpoint(spark, tmp_path):
    """T7 + checkpoint/restore: kill the GroupState timer job between
    micro-batches and restart from the same checkpoint — pending-click
    state and registered timeouts must be recovered from the state
    store, so the final abandoned set is exactly the batch anti-join
    answer with no lost and no duplicate timeouts. (The layered test
    above covers agg-state recovery; this covers applyInPandasWithState.)"""
    from flink_realtime_edu_spark.streaming.stateful import detect_abandoned_stream

    src = tmp_path / "t7_restart_src"
    src.mkdir()

    def write_batch(name: str, rows):
        df = spark.createDataFrame(
            [(i, ts, uid, et, 1.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            (F.unix_micros(F.to_timestamp("ts_s")).cast("long") * 1000).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for i, f in enumerate((tmp_path / "stage").glob("*.parquet")):
            shutil.copy(f, src / f"{name}-{i}.parquet")

    # one file per micro-batch; all present before the first start so
    # the restart point lands mid-replay deterministically
    write_batch("f1", [
        ("2024-01-01 00:00:00", 1, "click"),      # abandoned (purchase too late)
        ("2024-01-01 00:00:00", 2, "click"),
        ("2024-01-01 00:05:00", 2, "purchase"),   # matched in time
    ])
    write_batch("f2", [
        ("2024-01-01 00:30:00", 1, "purchase"),   # outside the 15 min window
        ("2024-01-01 00:31:00", 3, "click"),      # abandoned
    ])
    write_batch("f3", [("2024-01-01 03:00:00", 4, "purchase")])  # wm -> 02:59
    write_batch("f4", [("2024-01-01 06:00:00", 5, "purchase")])  # firing batch

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        stream = detect_abandoned_stream(
            load_events_stream(spark, str(src), max_files_per_trigger=1),
            timeout_ms=900_000,
            watermark="1 minute",
        )
        versioned = stream.select(
            "user_id", "click_ts", F.unix_millis("click_ts").alias("v")
        )
        return (
            versioned.writeStream.outputMode("append")
            .foreachBatch(upsert_latest_by_key(out_dir, ["user_id", "click_ts"], "v"))
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    await_progress(q1, min_batch_id=1)  # >= 2 batches committed, then kill
    q1.stop()
    q1.awaitTermination()

    q2 = start()  # resumes offsets + recovered GroupState from ckpt
    run_to_completion(q2)

    got = sorted(
        (r["user_id"], r["click_ts"].isoformat())
        for r in spark.read.parquet(out_dir).select("user_id", "click_ts").collect()
    )
    assert got == [(1, "2024-01-01T00:00:00"), (3, "2024-01-01T00:31:00")]


def test_scd2_dim_maintained_from_stream_equals_batch(spark, sf_dir, tmp_path):
    """S2/S5 closed loop: maintain the SCD2 dim CONTINUOUSLY from the
    CDC stream (bucketed changelog append + affected-bucket interval
    recompute per micro-batch) and the final interval table must
    equal the batch state_intervals over the same changelog — across
    an unordered 4-micro-batch replay, i.e. with late data landing
    inside already-compacted spans. The maintained table then serves
    the batch temporal join identically to a batch-built one."""
    from flink_realtime_edu_spark.queries.temporal import state_intervals
    from flink_realtime_edu_spark.streaming import temporal_join_stream
    from flink_realtime_edu_spark.streaming.scd2 import (
        maintain_scd2_dim,
        read_scd2_intervals,
    )

    src = tmp_path / "cdc_src"
    ev = load(spark, sf_dir, "events")
    changelog = ev.filter(F.col("event_type") != "purchase")
    # 4 unsorted micro-batches -> late rows for already-built spans
    changelog.withColumn("ts", F.unix_micros("ts") * 1000).repartition(4).write.parquet(
        str(src)
    )

    store = str(tmp_path / "scd2_store")
    q = (
        load_events_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.foreachBatch(maintain_scd2_dim(store, n_buckets=8))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)

    got = read_scd2_intervals(spark, store)
    want = state_intervals(changelog)
    cols = ["user_id", "run_id", "state", "valid_from", "n_events", "valid_to"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))

    # the maintained dim serves the temporal join exactly like batch
    purchases = ev.filter(F.col("event_type") == "purchase")
    got_join = temporal_join_stream(purchases, got).select(
        "event_id", "user_id", "state_asof"
    )
    want_join = temporal_join_stream(purchases, want).select(
        "event_id", "user_id", "state_asof"
    )
    assert _rows(got_join) == _rows(want_join)

    # offline small-file compaction: per-bucket file counts drop to 1,
    # and the changelog content (hence the next recompute) is unchanged
    from pathlib import Path

    from flink_realtime_edu_spark.streaming.scd2 import (
        CHANGELOG_SUBDIR,
        compact_changelog,
    )

    cdir = Path(store) / CHANGELOG_SUBDIR
    before = _rows(spark.read.parquet(str(cdir)).drop("__bucket"))
    assert any(
        len(list(d.glob("*.parquet"))) > 1 for d in cdir.glob("__bucket=*")
    ), "expected multi-file buckets from the 4-batch replay"
    n = compact_changelog(spark, store)
    assert n > 0
    assert all(
        len(list(d.glob("*.parquet"))) == 1 for d in cdir.glob("__bucket=*")
    )
    assert _rows(spark.read.parquet(str(cdir)).drop("__bucket")) == before


def test_kafka_payload_roundtrip_contract(spark, sf_dir):
    """S1/S4 contract: the producer encoding (kafka_json_payload, the
    exact expression write_kafka ships) must decode losslessly with
    the schema + ts normalization the Kafka source parses with — so
    DWD facts survive a hop through a topic byte-identical at millis
    precision. Tested in batch (no broker in this container); the
    streaming builders use the same expressions."""
    from flink_realtime_edu_spark.streaming.jobs import kafka_json_payload

    ev = load(spark, sf_dir, "events")
    encoded = kafka_json_payload(ev)
    decoded = encoded.select(
        F.from_json(
            F.col("value"),
            "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
            "value DOUBLE, props STRING",
        ).alias("r")
    ).select("r.*")
    # consumer-side normalization, exactly load_events_kafka's last step
    decoded = decoded.withColumn("ts", F.timestamp_millis("ts"))
    # events.ts is micros-precision; the wire contract is millis, so
    # compare at the wire's precision on both sides.
    want = ev.select(*decoded.columns).withColumn(
        "ts", F.timestamp_millis(F.unix_millis("ts"))
    )
    assert _rows(decoded) == _rows(want)


def test_kafka_ts_wire_unit_is_millis(spark):
    """Pin the ts wire UNIT end-to-end: a known wall-clock instant
    encodes to its epoch-millis integer in the JSON payload, and the
    consumer's decode lands back on the same instant — a wrong unit
    (micros/nanos read as millis) would land decades away, silently
    corrupting every window and watermark downstream."""
    import json

    from flink_realtime_edu_spark.streaming.jobs import kafka_json_payload

    ev = spark.createDataFrame(
        [(1, "2024-01-02 03:04:05.678", 7, "click", 1.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    payload = json.loads(kafka_json_payload(ev).collect()[0]["value"])
    assert payload["ts"] == 1704164645678  # epoch-millis of the instant (UTC)
    decoded = (
        spark.createDataFrame([(payload["ts"],)], "ts long")
        .select(
            F.date_format(
                F.timestamp_millis("ts"), "yyyy-MM-dd HH:mm:ss.SSS"
            ).alias("s")
        )
        .collect()[0]["s"]
    )  # rendered in the session tz (UTC) — driver-local tz can't skew it
    assert decoded == "2024-01-02 03:04:05.678"


def test_stream_stream_left_outer_join_emits_timeouts(spark, sf_dir, events_dir, tmp_path):
    """J9+J2: left-outer stream-stream interval join. Invariants at
    end-of-stream (final watermark W = max ts - 2 days):
      1. matched pairs == the batch inner interval join, exactly;
      2. every null-padded row is a click the batch join left
         unmatched (no false timeouts);
      3. every batch-unmatched click whose horizon closed safely
         below W emitted exactly one null-padded row (no lost
         timeouts). Clicks near/above W are withheld by design
         (state not yet evictable) — excluded via a 1-hour band so
         the test doesn't pin Spark's exact eviction boundary."""
    from flink_realtime_edu_spark.streaming.jobs import interval_join_outer_stream

    stream = interval_join_outer_stream(load_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("j9_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_j9o"))
        .start()
    )
    run_to_completion(q)
    got = spark.sql("SELECT * FROM j9_outer").collect()

    events = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    batch_pairs = {
        (r["click_id"], r["purchase_id"])
        for r in REGISTRY["interval_join_click_purchase"].build(spark, sf_dir).collect()
    }
    matched_clicks = {c for c, _ in batch_pairs}

    got_pairs = {(r["click_id"], r["purchase_id"]) for r in got if r["purchase_id"] is not None}
    assert got_pairs == batch_pairs

    null_clicks = {r["click_id"] for r in got if r["purchase_id"] is None}
    all_clicks = {r["event_id"]: r["ts"] for r in clicks.collect()}
    batch_unmatched = set(all_clicks) - matched_clicks
    # 2. no false timeouts
    assert null_clicks <= batch_unmatched
    # 3. no lost timeouts for decidable clicks: horizon end (+1d) must
    # sit a band (1h) below the final watermark (max ts - 2d).
    import datetime as dt

    max_ts = max(r["ts"] for r in events.select("ts").collect())
    cutoff = max_ts - dt.timedelta(days=3, hours=1)
    decidable = {c for c in batch_unmatched if all_clicks[c] < cutoff}
    assert decidable <= null_clicks, sorted(decidable - null_clicks)[:5]
    # and each timeout emitted exactly once
    null_rows = [r["click_id"] for r in got if r["purchase_id"] is None]
    assert len(null_rows) == len(set(null_rows))


def test_stream_static_temporal_join_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """J8/S2 streaming: the stream–static TEMPORAL join binds each
    streamed purchase to the SCD2 state version covering its event
    time, equals the batch temporal join exactly, and broadcasts the
    versioned dim (stream side shuffle-free)."""
    from flink_realtime_edu_spark.queries.temporal import state_intervals
    from flink_realtime_edu_spark.streaming import temporal_join_stream

    ev = load(spark, sf_dir, "events")
    states = state_intervals(ev.filter(F.col("event_type") != "purchase"))
    stream = load_events_stream(spark, events_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    joined = temporal_join_stream(stream, states)
    q = (
        joined.writeStream.format("memory")
        .queryName("j8_temporal")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    plan = q._jsq.explainInternal(False)
    q.stop()
    q.awaitTermination()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan

    got = spark.sql("SELECT event_id, user_id, state_asof FROM j8_temporal")
    from flink_realtime_edu_spark.streaming import temporal_join_stream as _tjs

    want = _tjs(ev.filter(F.col("event_type") == "purchase"), states).select(
        "event_id", "user_id", "state_asof"
    )
    assert _rows(got) == _rows(want)
    # every purchase appears exactly once (intervals partition the timeline)
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    assert got.count() == n_purchases


def test_dim_update_lands_on_microbatch_boundary(spark, tmp_path):
    """J3/S2 semantics pin: a path-bound static DataFrame captures
    its file listing at analysis time, so an overwritten dim is NOT
    visible to later micro-batches of the same query (it errors on
    the deleted files). The engine's dim-refresh recipe is therefore
    a FRESH read inside foreachBatch — the Flink cache-refresh dim
    lookup analogue — and this test pins it: facts processed before
    the dim rewrite join the old version, facts after join the new
    one, with no retro-rewrite of already-emitted rows."""
    dim_dir = str(tmp_path / "dim")
    src = tmp_path / "ev_src"
    src.mkdir()

    def write_dim(tag):
        spark.createDataFrame(
            [(1, f"seg_{tag}")], "user_id long, segment string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    def write_events(name, event_id):
        spark.createDataFrame(
            [(event_id, 1_700_000_000_000_000_000, 1, "click", 1.0, "{}")],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        import glob
        import shutil as sh

        part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
        sh.copy(part, src / name)

    write_dim("v1")
    write_events("f1.parquet", 100)

    out: list[tuple[int, str]] = []

    def enrich_with_fresh_dim(batch_df, _batch_id):
        dim = spark.read.parquet(dim_dir)  # re-listed every batch
        rows = batch_df.join(dim, on="user_id", how="left").collect()
        out.extend((r.event_id, r.segment) for r in rows)

    stream = load_events_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(enrich_with_fresh_dim)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()

    write_dim("v2")
    write_events("f2.parquet", 200)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    assert dict(out) == {100: "seg_v1", 200: "seg_v2"}


def test_scd2_dim_with_cdc_deletes_stream_equals_batch(spark, sf_dir, tmp_path):
    """S2 CDC realism: an op-tagged debezium-style changelog (c/u/d,
    parsed from JSON envelopes) maintained continuously through
    maintain_scd2_dim must (a) equal the batch delete-aware
    compaction over the same changelog across an unordered replay,
    and (b) honor delete semantics — every user whose LAST changelog
    op is a delete ends with NO open interval."""
    from flink_realtime_edu_spark.queries.temporal import (
        events_as_cdc_envelope,
        parse_cdc_envelope,
        state_intervals_cdc,
    )
    from flink_realtime_edu_spark.streaming.scd2 import (
        maintain_scd2_dim,
        read_scd2_intervals,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    ev = load(spark, sf_dir, "events")
    changelog = parse_cdc_envelope(events_as_cdc_envelope(ev))
    src = tmp_path / "cdc_envelope_src"
    # 3 unsorted micro-batches → deletes and late rows out of order
    changelog.repartition(3).write.parquet(str(src))

    store = str(tmp_path / "scd2_cdc_store")
    q = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(maintain_scd2_dim(store, n_buckets=8))
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .start()
    )
    run_to_completion(q)

    got = read_scd2_intervals(spark, store)
    want = state_intervals_cdc(changelog)
    cols = ["user_id", "run_id", "state", "valid_from", "n_events", "valid_to"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))

    # delete semantics on the MAINTAINED table: last-op-deleted users
    # must have every interval closed
    from pyspark.sql import Window

    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    deleted_users = (
        changelog.withColumn("rn", w)
        .filter((F.col("rn") == 1) & (F.col("op") == "d"))
        .select("user_id")
    )
    n_deleted = deleted_users.count()
    assert n_deleted > 0, "corpus should contain users ending in a delete"
    still_open = got.filter(F.col("valid_to").isNull()).join(
        deleted_users, on="user_id", how="inner"
    )
    assert still_open.count() == 0


def test_streaming_incremental_dedup_first_seen_wins_and_replay_safe(
    spark, sf_dir, tmp_path
):
    """X4 streaming twin: documents streamed in micro-batches are
    deduped against the persisted content-hash index — first-seen
    wins, classifications match an exact recomputation from the
    actual batch membership, the index equals the kept set, and
    REPLAYING a batch (crash recovery) reproduces byte-identical
    output and index state."""
    from flink_realtime_edu_spark.streaming.dedup import (
        read_dedup_index,
        read_dedup_output,
        streaming_exact_dedup,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "docs_src"
    docs.repartition(3).write.parquet(str(src))

    index_dir = str(tmp_path / "hash_index")
    out_dir = str(tmp_path / "dedup_out")
    sink = streaming_exact_dedup(index_dir, out_dir, n_buckets=8)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    run_to_completion(q)

    out = read_dedup_output(spark, out_dir).cache()
    assert out.count() == docs.count()

    # Exact recomputation from the ACTUAL batch membership: the keep
    # for a hash is the smallest doc_id within its first-seen batch.
    from pyspark.sql import Window

    w = Window.partitionBy("text_md5")
    expected = (
        out.select("doc_id", "text_md5", "batch_id")
        .withColumn(
            "keep",
            F.min_by(
                F.struct("batch_id", "doc_id"), F.struct("batch_id", "doc_id")
            ).over(w),
        )
        .select(
            "doc_id",
            "text_md5",
            F.when(F.col("doc_id") == F.col("keep.doc_id"), "kept")
            .when(F.col("batch_id") == F.col("keep.batch_id"), "dup_in_batch")
            .otherwise("dup_of_corpus")
            .alias("status"),
        )
    )
    got = out.select("doc_id", "text_md5", "status")
    assert _rows(got) == _rows(expected)

    # Index == the kept set, one row per distinct hash.
    idx = read_dedup_index(spark, index_dir)
    kept = out.filter(F.col("status") == "kept")
    assert _rows(idx.select("text_md5", "keep_doc_id")) == _rows(
        kept.select("text_md5", "doc_id")
    )
    assert idx.count() == out.select("text_md5").distinct().count()

    # Crash-replay: re-run the LAST batch through the sink with its
    # original batch id; output and index must be unchanged.
    last_batch = out.agg(F.max("batch_id")).collect()[0][0]
    replay_ids = [
        r.doc_id for r in out.filter(F.col("batch_id") == last_batch).collect()
    ]
    before_out = _rows(read_dedup_output(spark, out_dir))
    before_idx = _rows(read_dedup_index(spark, index_dir))
    sink(docs.filter(F.col("doc_id").isin(replay_ids)), last_batch)
    assert _rows(read_dedup_output(spark, out_dir)) == before_out
    assert _rows(read_dedup_index(spark, index_dir)) == before_idx

    # Staged-swap crash window: a bucket left with old AND new files
    # (identical duplicate rows) must read back folded, and the next
    # batch must classify as if nothing happened.
    import glob as _glob
    import shutil as _shutil

    bucket_files = sorted(_glob.glob(f"{index_dir}/__bucket=*/*.parquet"))
    _shutil.copy(bucket_files[0], bucket_files[0] + ".dup.parquet")
    assert _rows(read_dedup_index(spark, index_dir)) == before_idx
    sink(docs.filter(F.col("doc_id").isin(replay_ids)), last_batch)
    assert _rows(read_dedup_output(spark, out_dir)) == before_out
    out.unpersist()


def test_streaming_dq_observation_matches_batch_counts(spark, sf_dir, tmp_path):
    """S7 monitoring: `observe` metrics accumulated across micro-
    batches must equal the batch-computed quality counts over the
    same events — no second scan, the counters ride the plan."""
    from flink_realtime_edu_spark.streaming.dedup import read_dedup_output  # noqa: F401 (import sanity)
    from flink_realtime_edu_spark.streaming.quality import (
        dq_totals_from_progress,
        with_dq_metrics,
    )

    base = load(spark, sf_dir, "events")
    # Plant violations of all three rules (sf0.001 props are all
    # clean, so the counters would trivially be zero otherwise).
    planted = spark.createDataFrame(
        [
            (9_000_001, "2024-01-01 00:00:00", 1, "view", 1.0, "not json"),
            (9_000_002, "2024-01-01 00:00:01", 2, "view", -5.0, '{"k": 3}'),
            (9_000_003, "2024-01-01 00:00:02", None, "view", 2.0, '{"k": 500}'),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev = base.unionByName(planted)
    src = tmp_path / "dq_src"
    ev.repartition(3).write.parquet(str(src))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out_dir = str(tmp_path / "dq_out")
    q = (
        with_dq_metrics(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "dq_ckpt"))
        .start()
    )
    run_to_completion(q)
    got = dq_totals_from_progress([p for p in q.recentProgress])

    k = F.from_json("props", "k INT")["k"]
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~(k.isNotNull() & k.between(0, 99)), 1).otherwise(0)).alias(
            "n_dirty_props"
        ),
        F.sum(
            F.when(F.col("value").isNull() | (F.col("value") < 0), 1).otherwise(0)
        ).alias("n_bad_value"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
            "n_null_user"
        ),
    ).collect()[0]
    assert got == {
        "n_rows": want.n_rows,
        "n_dirty_props": want.n_dirty_props,
        "n_bad_value": want.n_bad_value,
        "n_null_user": want.n_null_user,
    }
    # every planted rule fires
    assert got["n_rows"] > 0 and got["n_dirty_props"] >= 2
    assert got["n_bad_value"] >= 1 and got["n_null_user"] >= 1
    # pass-through contract: observed stream wrote every row unchanged
    assert spark.read.parquet(out_dir).count() == want.n_rows


def test_late_repair_converges_store_to_batch_truth(spark, tmp_path):
    """T4 closure (allowed-lateness twin): the watermark drops a late
    row, leaving the upsert store's finalized window stale; replaying
    the late slice through streaming/late.py::repair_late_windows
    recomputes the touched windows from the archive and converges the
    store to batch truth. Running the repair twice is a no-op
    (idempotent recompute-from-truth upsert)."""
    from flink_realtime_edu_spark.functions import dec_sum
    from flink_realtime_edu_spark.sources import normalize_events_ts
    from flink_realtime_edu_spark.streaming.late import repair_late_windows
    from flink_realtime_edu_spark.streaming.sinks import read_upsert_table

    src = tmp_path / "repair_src"
    src.mkdir()
    store = str(tmp_path / "repair_store")

    def write_batch(name: str, eid: int, ts: str, value: float):
        row = spark.createDataFrame(
            [(eid, ts, 1, "click", value, "{}")],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id",
            (F.unix_micros(F.to_timestamp("ts_s")) * 1000).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        row.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for i, f in enumerate((tmp_path / "stage").glob("*.parquet")):
            shutil.copy(f, src / f"{name}-{i}.parquet")

    writer = upsert_latest_by_key(
        store, ["window_start", "event_type"], "version", n_buckets=4
    )
    stream = tumbling_stats_stream(
        load_events_stream(spark, str(src)), watermark="30 minutes"
    )
    write_batch("a", 1, "2024-01-01 00:10:00", 1.5)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: writer(
                df.withColumn("version", F.lit(bid).cast("long")), bid
            )
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()  # watermark → 23:40 prev day
    write_batch("b", 2, "2024-01-01 05:00:00", 2.0)
    q.processAllAvailable()  # watermark → 04:30; hour 00 finalized
    write_batch("late", 3, "2024-01-01 00:20:00", 4.0)  # below watermark
    q.processAllAvailable()  # dropped by the stream
    run_to_completion(q)

    stale = {
        (r.window_start.isoformat(), r.event_type): (r.n_events, r.sum_value)
        for r in read_upsert_table(spark, store).collect()
    }
    assert stale[("2024-01-01T00:00:00", "click")] == (1, 1.5)  # late row missing

    archive = normalize_events_ts(spark.read.parquet(str(src)))
    late = archive.filter(F.col("event_id") == 3)
    for _ in range(2):  # idempotent: second run converges to the same state
        repair_late_windows(late, archive, store, version=10**6, n_buckets=4)
        fixed = {
            (r.window_start.isoformat(), r.event_type): (r.n_events, r.sum_value)
            for r in read_upsert_table(spark, store).collect()
        }
        truth = {
            (r.window_start.isoformat(), r.event_type): (r.n_events, r.sum_value)
            for r in archive.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dec_sum("value").alias("sum_value"),
            )
            .collect()
        }
        assert fixed == truth


def test_cep_stream_equals_batch_on_ordered_replay(spark, sf_dir, tmp_path):
    """Streaming CEP (keyed GroupState automaton) must reproduce the
    batch earliest-completion chain exactly when the replay respects
    event-time order — here the events file split into three
    time-ordered chunks consumed one file per trigger, so chains
    cross micro-batch boundaries."""
    from flink_realtime_edu_spark.operators.cep import cep_first_match
    from flink_realtime_edu_spark.streaming.cep import cep_first_match_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    steps, within = ["view", "click", "purchase"], "24 hours"
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    src = tmp_path / "cep_src"
    src.mkdir()
    # three event-time-ordered chunks (events are ts-ordered by id)
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        chunk = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)  # distinct mtimes -> deterministic file order
    stream = cep_first_match_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        steps,
        within,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cep_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    run_to_completion(q)
    got = _rows(spark.sql("SELECT * FROM cep_stream"))
    want = _rows(cep_first_match(ev, steps, within))
    assert got == want and len(want) > 0


def test_cep_stream_equals_batch_with_multichunk_keys(spark, sf_dir, tmp_path):
    """A key whose micro-batch exceeds arrow.maxRecordsPerBatch rows
    is delivered to the state fn as MULTIPLE pandas chunks in shuffle
    order — the automaton must concatenate and sort the key's whole
    batch once (chunk-local sorting is NOT a global event-time order
    and silently diverges from batch). Pinned by shrinking
    maxRecordsPerBatch (7) far below per-key batch volume (up to 88
    events/user here) and replaying everything in ONE micro-batch."""
    from flink_realtime_edu_spark.operators.cep import cep_first_match
    from flink_realtime_edu_spark.streaming.cep import cep_first_match_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    steps, within = ["view", "click", "purchase"], "24 hours"
    ev = load(spark, sf_dir, "events")
    src = tmp_path / "cep_chunk_src"
    src.mkdir()
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    for f in (tmp_path / "stage").glob("*.parquet"):
        shutil.copy(f, src / "all.parquet")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        stream = cep_first_match_stream(
            load_events_stream(spark, str(src)), steps, within
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("cep_chunks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_chunks"))
            .start()
        )
        run_to_completion(q)
    finally:
        spark.conf.set(key, old)
    got = _rows(spark.sql("SELECT * FROM cep_chunks"))
    want = _rows(cep_first_match(ev, steps, within))
    assert got == want and len(want) > 0


def test_cep_times_stream_equals_batch(spark, sf_dir, tmp_path):
    """A quantified times(n) pattern streams through the SAME keyed
    automaton as any relaxed pattern — the quantifier flattens to a
    repeated step list (the batch operator's equivalence property) —
    and must reproduce the block-native batch cep_times exactly on an
    ordered replay crossing micro-batch boundaries."""
    from flink_realtime_edu_spark.operators.cep import cep_times
    from flink_realtime_edu_spark.streaming.cep import cep_first_match_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    blocks, within = [("click", 2), ("purchase", 1)], "48 hours"
    flat = [s for s, m in blocks for _ in range(m)]
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    src = tmp_path / "cep_times_src"
    src.mkdir()
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        chunk = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)
    stream = cep_first_match_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        flat,
        within,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cep_times_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_times"))
        .start()
    )
    run_to_completion(q)
    got = _rows(spark.sql("SELECT * FROM cep_times_stream"))
    want = _rows(cep_times(ev, blocks, within))
    assert got == want and len(want) > 0


def test_cep_timeout_stream_equals_batch(spark, sf_dir, tmp_path):
    """The timeout-emitting streaming CEP must reproduce BOTH batch
    sides exactly on an ordered replay: completions ≡ cep_first_match
    and watermark-fired partials ≡ cep_timed_out (same horizon cut).
    A far-future sentinel event in the final micro-batch drives the
    watermark beyond every chain's horizon so all pending timers
    fire before the stream drains."""
    import datetime

    from flink_realtime_edu_spark.operators.cep import (
        cep_first_match,
        cep_timed_out,
    )
    from flink_realtime_edu_spark.streaming.cep import cep_with_timeouts_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    steps, within = ["view", "click", "purchase"], "24 hours"
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    src = tmp_path / "cep_to_src"
    src.mkdir()
    chunks = [
        ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        for lo, hi in [(0, n // 2), (n // 2, n)]
    ]
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + datetime.timedelta(days=30), -1, "noop", 0.0, "{}")],
        ev.schema,
    )
    for i, chunk in enumerate(chunks + [sentinel]):
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    stream = cep_with_timeouts_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        steps,
        within,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cep_to_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_to"))
        .start()
    )
    run_to_completion(q)
    got = spark.sql("SELECT * FROM cep_to_stream").collect()
    assert all(r.user_id != -1 for r in got)  # sentinel never matches

    got_completed = sorted(
        (r.user_id, r.start_ts, r.last_ts) for r in got if not r.timed_out
    )
    want_completed = sorted(
        (r.user_id, r.start_ts, r.end_ts)
        for r in cep_first_match(ev, steps, within).collect()
    )
    assert got_completed == want_completed and len(want_completed) > 0

    got_timeouts = sorted(
        (r.user_id, r.start_ts, r.matched_steps, r.last_ts)
        for r in got
        if r.timed_out
    )
    want_timeouts = sorted(
        (r.user_id, r.start_ts, r.matched_steps, r.last_matched_ts)
        for r in cep_timed_out(ev, steps, within).collect()
    )
    assert got_timeouts == want_timeouts and len(want_timeouts) > 0


@pytest.mark.parametrize(
    "cfg",
    [
        ("gap", ["view", ("not", "error"), "click", "purchase"], "96 hours"),
        ("tail", ["click", "purchase", ("not", "error")], "48 hours"),
    ],
    ids=lambda c: c[0],
)
def test_cep_not_followed_by_stream_equals_batch(spark, sf_dir, tmp_path, cfg):
    """Streaming notFollowedBy must reproduce the r8 batch semantics
    exactly on an ordered replay — per-start partials, negatives
    killing only their own chain, first valid chain per key in
    completion order — for BOTH negative positions: a gap negative
    (emission at the completing event) and a trailing negative
    (emission deferred until the watermark closes the horizon silent;
    a far-future sentinel in the last micro-batch drives every
    pending's timer before the stream drains)."""
    import datetime

    from flink_realtime_edu_spark.operators.cep import cep_not_followed_by
    from flink_realtime_edu_spark.streaming.cep import (
        cep_not_followed_by_stream,
    )
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    name, steps, within = cfg
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    src = tmp_path / f"nfb_src_{name}"
    src.mkdir()
    chunks = [
        ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        for lo, hi in [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    ]
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + datetime.timedelta(days=30), -1, "noop", 0.0, "{}")],
        ev.schema,
    )
    for i, chunk in enumerate(chunks + [sentinel]):
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    stream = cep_not_followed_by_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        steps,
        within,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(f"nfb_stream_{name}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_nfb_{name}"))
        .start()
    )
    run_to_completion(q)
    got = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.duration_s)
        for r in spark.sql(f"SELECT * FROM nfb_stream_{name}").collect()
    )
    want = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.duration_s)
        for r in cep_not_followed_by(ev, steps, within).collect()
    )
    assert got == want and len(want) > 0


@pytest.mark.parametrize(
    # One strategy stays in the default profile (the stream≡batch
    # coverage class); the other four are slow-tier — identical code
    # path, per-strategy semantics already pinned by the BATCH
    # bruteforce property tests (r14 suite re-tier: the driver's
    # default pytest wall overran its budget, VERDICT r13 item 1).
    "strategy,skip_block",
    [
        ("no_skip", None),
        pytest.param("skip_to_next", None, marks=pytest.mark.slow),
        pytest.param("skip_past_last_event", None, marks=pytest.mark.slow),
        pytest.param("skip_to_first", 2, marks=pytest.mark.slow),
        pytest.param("skip_to_last", 1, marks=pytest.mark.slow),
    ],
    ids=lambda v: str(v),
)
def test_cep_all_matches_stream_equals_batch(
    spark, sf_dir, tmp_path, strategy, skip_block
):
    """The streaming all-matches NFA must reproduce the batch
    skip-strategy operator's KEPT-MATCH SET exactly on an ordered
    replay, for every after-match skip strategy (anchored ones at the
    optional NULL-anchor block and the range block) — matches cross
    micro-batch boundaries, forks collapse duplicate block
    assignments, and the strategy memories (emitted starts, resume
    point, discard intervals) carry across batches. match_no is
    rank-based in batch and emission-ordered live, so the comparison
    is on (user, start, end, n_events, chain_str) sets with the batch
    cap effectively off."""
    from flink_realtime_edu_spark.operators.cep import cep_after_match_skip
    from flink_realtime_edu_spark.streaming.cep import cep_all_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    blocks = [("click", 1, 2), ("view", 0, 1), ("purchase", 1, 1)]
    within = "6 hours"
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    tag = f"{strategy}_{skip_block}"
    src = tmp_path / f"am_src_{tag}"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    ):
        chunk = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    stream = cep_all_matches_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        blocks,
        within,
        strategy=strategy,
        skip_block=skip_block,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(f"am_stream_{tag}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_am_{tag}"))
        .start()
    )
    run_to_completion(q)
    got = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in spark.sql(f"SELECT * FROM am_stream_{tag}").collect()
    )
    want = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in cep_after_match_skip(
            ev,
            blocks,
            within,
            strategy=strategy,
            max_matches_per_key=10**6,
            skip_block=skip_block,
        ).collect()
    )
    assert got == want and len(want) > 0


@pytest.mark.parametrize(
    # default keeps one strategy; rest slow-tier (see the r14 re-tier
    # note on test_cep_all_matches_stream_equals_batch)
    "strategy,skip_block",
    [
        ("no_skip", None),
        pytest.param("skip_to_next", None, marks=pytest.mark.slow),
        pytest.param("skip_past_last_event", None, marks=pytest.mark.slow),
        pytest.param("skip_to_first", 2, marks=pytest.mark.slow),
        pytest.param("skip_to_last", 2, marks=pytest.mark.slow),
    ],
    ids=lambda v: str(v),
)
def test_cep_all_matches_stream_same_timestamp_group(
    spark, tmp_path, strategy, skip_block
):
    """ADVICE r9 medium: two same-timestamp events of DIFFERENT types
    can complete the same ts-chain through different block assignments
    — e.g. blocks [(click,1,2), (view,0,1)] with click@t0 then
    click@t1 AND view@t1: the chain (t0, t1) completes at BOTH
    arrivals under distinct partial keys. One-at-a-time processing
    emitted it twice under no_skip and let the first completion's
    strategy memory suppress same-end ties the batch walk keeps; the
    fixed NFA processes each distinct timestamp as ONE group with
    chain-level dedup and pre-group strategy memory. The adversarial
    stream puts a same-ts group in every user and splits users across
    micro-batches (groups stay intact per batch, the documented
    contract)."""
    import datetime

    from flink_realtime_edu_spark.operators.cep import cep_after_match_skip
    from flink_realtime_edu_spark.streaming.cep import cep_all_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    blocks = [("click", 1, 2), ("view", 0, 1)]
    within = "6 hours"
    t = lambda m: datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)  # noqa: E731
    rows = [
        # u1: the ADVICE shape — click@0, then {click, view}@60
        (0, t(0), 1, "click"),
        (1, t(60), 1, "click"),
        (2, t(60), 1, "view"),
        # u2: two same-ts groups, duplicate events inside one
        (3, t(0), 2, "click"),
        (4, t(30), 2, "view"),
        (5, t(30), 2, "click"),
        (6, t(30), 2, "view"),  # duplicate (type, ts) — batch distinct
        (7, t(90), 2, "view"),
        # u3: same-ts group at the very first event
        (8, t(10), 3, "click"),
        (9, t(10), 3, "view"),
        (10, t(50), 3, "click"),
    ]
    ev = spark.createDataFrame(
        [(e, ts, u, ty, 1.0, "{}") for e, ts, u, ty in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    tag = f"{strategy}_{skip_block}"
    src = tmp_path / f"amts_src_{tag}"
    src.mkdir()
    for i, uids in enumerate([(1,), (2, 3)]):
        chunk = ev.filter(F.col("user_id").isin(*uids))
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    stream = cep_all_matches_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        blocks,
        within,
        strategy=strategy,
        skip_block=skip_block,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(f"amts_stream_{tag}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_amts_{tag}"))
        .start()
    )
    run_to_completion(q)
    got = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in spark.sql(f"SELECT * FROM amts_stream_{tag}").collect()
    )
    want = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in cep_after_match_skip(
            ev,
            blocks,
            within,
            strategy=strategy,
            max_matches_per_key=10**6,
            skip_block=skip_block,
        ).collect()
    )
    assert got == want and len(want) > 0
    # the duplicate-emission regression in particular: no chain may
    # appear twice for a user (matches are distinct event SETS)
    assert len(got) == len({(g[0], g[4]) for g in got})


def test_cep_iterative_condition_stream_equals_batch(spark, sf_dir, tmp_path):
    """The streaming NFA with ITERATIVE CONDITIONS must reproduce the
    batch cep_all_matches(conditions=...) kept-match set exactly on an
    ordered replay: the running value aggregates thread through the
    fork tree across micro-batch boundaries, the predicate gates each
    candidate consumption, and the seed stays unconditioned. BOTH
    sides take the SAME SQL condition string (VERDICT r9 item 4): the
    batch side evaluates it as a join conjunct, the stream compiles
    it through the shared restricted grammar."""
    from flink_realtime_edu_spark.operators.cep import cep_all_matches
    from flink_realtime_edu_spark.streaming.cep import cep_all_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    blocks = [("click", 1, 2), ("purchase", 1, 1)]
    within = "12 hours"
    sql_conds = {2: "__v > vsum / vcnt"}
    py_conds = sql_conds  # one spec string drives both engines
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    src = tmp_path / "amic_src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    ):
        chunk = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    stream = cep_all_matches_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        blocks,
        within,
        conditions=py_conds,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("amic_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_amic"))
        .start()
    )
    run_to_completion(q)
    got = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in spark.sql("SELECT * FROM amic_stream").collect()
    )
    want = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in cep_all_matches(
            ev, blocks, within, max_matches_per_key=10**6, conditions=sql_conds
        ).collect()
    )
    assert got == want and len(want) > 0


def test_cep_consecutive_stream_equals_batch(spark, sf_dir, tmp_path):
    """The streaming NFA's looping contiguity (consecutive blocks via
    the per-key arrival-sequence counter) must reproduce the batch
    rank-threaded enumeration exactly on an ordered replay — the
    sequence counter carries across micro-batch boundaries, same-ts
    groups number their members in type order (the batch rank's
    (ts, type) tie), and any intervening event of any type breaks a
    run."""
    from flink_realtime_edu_spark.operators.cep import cep_all_matches
    from flink_realtime_edu_spark.streaming.cep import cep_all_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    blocks = [("click", 2, 3), ("purchase", 1, 1)]
    within = "24 hours"
    consecutive = {1}
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    src = tmp_path / "amcs_src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    ):
        chunk = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    stream = cep_all_matches_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        blocks,
        within,
        consecutive=consecutive,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("amcs_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_amcs"))
        .start()
    )
    run_to_completion(q)
    got = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in spark.sql("SELECT * FROM amcs_stream").collect()
    )
    want = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in cep_all_matches(
            ev, blocks, within, max_matches_per_key=10**6,
            consecutive=consecutive,
        ).collect()
    )
    assert got == want and len(want) > 0


def test_cep_until_greedy_stream_equals_batch(spark, sf_dir, tmp_path):
    """The streaming NFA's UNBOUNDED loop + until() + greedy() must
    reproduce the batch enumeration exactly on an ordered replay,
    driven by the SAME spec the registered queries use (blocks with
    mx=None, stop condition as one SQL string — VERDICT r9 items 2-4):
    the per-(key, type) candidate sequence carries run contiguity
    across micro-batch boundaries, accumulated stop timestamps kill
    exactly the chains whose loop gaps they fall strictly inside, the
    greedy exit deadline fires when a consumable candidate passes
    unconsumed, and the NFA's bound-free looping cross-checks the
    batch side's data-dependent slot bound."""
    from flink_realtime_edu_spark.operators.cep import cep_all_matches
    from flink_realtime_edu_spark.streaming.cep import cep_all_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    cases = {
        "until": dict(
            blocks=[("click", 1, None), ("purchase", 1, 1)],
            within="6 hours",
            until={1: "__v > 200"},  # the registered query's spec
            greedy=None,
        ),
        "greedy": dict(
            blocks=[("view", 1, None), ("purchase", 1, 1)],
            within="12 hours",
            until=None,
            greedy={1},
        ),
        "both": dict(
            blocks=[("view", 1, 1), ("click", 1, None), ("purchase", 1, 1)],
            within="12 hours",
            until={2: "__v > 150"},
            greedy={2},
        ),
    }
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    for tag, cs in cases.items():
        src = tmp_path / f"amug_src_{tag}"
        src.mkdir()
        for i, (lo, hi) in enumerate(
            [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
        ):
            chunk = ev.filter(
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            )
            chunk.coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / "stage")
            )
            for f in (tmp_path / "stage").glob("*.parquet"):
                shutil.copy(f, src / f"chunk-{i}.parquet")
            time.sleep(1.1)
        stream = cep_all_matches_stream(
            load_events_stream(spark, str(src), max_files_per_trigger=1),
            cs["blocks"],
            cs["within"],
            until=cs["until"],
            greedy=cs["greedy"],
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(f"amug_stream_{tag}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_amug_{tag}"))
            .start()
        )
        run_to_completion(q)
        got = sorted(
            (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
            for r in spark.sql(f"SELECT * FROM amug_stream_{tag}").collect()
        )
        want = sorted(
            (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
            for r in cep_all_matches(
                ev,
                cs["blocks"],
                cs["within"],
                max_matches_per_key=10**6,
                until=cs["until"],
                greedy=cs["greedy"],
            ).collect()
        )
        assert got == want and len(want) > 0, tag


def test_cep_all_matches_stream_cap_is_per_key_total(spark, tmp_path):
    """ADVICE r9 low: max_matches_per_key is a per-key TOTAL like the
    batch operator's — a key that reached its cap must stay capped
    after its state quiesces (all horizons closed, strategy memory
    drained), not emit a fresh cap's worth on later activity."""
    import datetime

    from flink_realtime_edu_spark.streaming.cep import cep_all_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    t = lambda m: datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)  # noqa: E731
    # burst 1: two completions (cap=2 reached); a sentinel user drives
    # the watermark far past burst 1's horizons so u1's state drains;
    # burst 2: another would-be completion that must stay suppressed
    chunks = [
        [
            (0, t(0), 1, "click"),
            (1, t(5), 1, "purchase"),
            (2, t(20), 1, "click"),
            (3, t(25), 1, "purchase"),
        ],
        [(4, t(600), 99, "noop")],  # wm -> 10:00, horizons (10m) closed
        [(5, t(1200), 1, "click"), (6, t(1205), 1, "purchase")],
        [(7, t(2400), 99, "noop")],
    ]
    src = tmp_path / "amcap_src"
    src.mkdir()
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(
            [(e, ts, u, ty, 1.0, "{}") for e, ts, u, ty in rows],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    stream = cep_all_matches_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        ["click", "purchase"],
        "10 minutes",
        strategy="no_skip",
        max_matches_per_key=2,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("amcap_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_amcap"))
        .start()
    )
    run_to_completion(q)
    got = [
        r
        for r in spark.sql("SELECT * FROM amcap_stream").collect()
        if r.user_id == 1
    ]
    assert len(got) == 2  # burst 1 only; the quiesced cap holds


@pytest.mark.parametrize(
    # default keeps one strategy; rest slow-tier (see the r14 re-tier
    # note on test_cep_all_matches_stream_equals_batch)
    "strategy,skip_block",
    [
        ("no_skip", None),
        pytest.param("skip_to_next", None, marks=pytest.mark.slow),
        pytest.param("skip_past_last_event", None, marks=pytest.mark.slow),
        pytest.param("skip_to_first", 2, marks=pytest.mark.slow),
        pytest.param("skip_to_last", 1, marks=pytest.mark.slow),
    ],
    ids=lambda v: str(v),
)
def test_cep_all_matches_stream_state_drains_at_quiescence(
    spark, tmp_path, strategy, skip_block
):
    """The NFA's state BOUND, pinned as a census (VERDICT r8 item 5):
    without a cap, once the watermark passes every chain's horizon and
    every strategy memory's relevance, the store must drain to ZERO
    rows — partials are horizon-pruned by the timer sweep and the
    emitted-starts / resume-point / discard-interval memories
    self-prune (a future start can never land inside stale memory).
    Mid-stream state is bounded by one `within` horizon's enumeration
    fanout plus that memory; this test pins the drain side, the
    state-growth curves in BASELINE.md record the mid-stream side."""
    import datetime

    from flink_realtime_edu_spark.streaming.cep import cep_all_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    t = lambda m: datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)  # noqa: E731
    chunks = [
        [
            (0, t(0), 1, "click"),
            (1, t(10), 1, "view"),
            (2, t(20), 1, "purchase"),
            (3, t(5), 2, "click"),
            (4, t(15), 2, "click"),
        ],
        # two sentinel batches: the first advances the watermark past
        # every horizon/memory, the second lets the armed timers fire
        [(5, t(600), 99, "noop")],
        [(6, t(1200), 99, "noop")],
    ]
    tag = f"{strategy}_{skip_block}"
    src = tmp_path / f"amdrain_src_{tag}"
    src.mkdir()
    for i, rows in enumerate(chunks):
        df = spark.createDataFrame(
            [(e, ts, u, ty, 1.0, "{}") for e, ts, u, ty in rows],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    q = (
        cep_all_matches_stream(
            load_events_stream(spark, str(src), max_files_per_trigger=1),
            [("click", 1, 2), ("view", 0, 1), ("purchase", 1, 1)],
            "1 hour",
            strategy=strategy,
            skip_block=skip_block,
        )
        .writeStream.format("memory")
        .queryName(f"amdrain_{tag}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_amdrain_{tag}"))
        .start()
    )
    q.processAllAvailable()
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p.get("stateOperators")
    ]
    run_to_completion(q)
    got = spark.sql(f"SELECT * FROM amdrain_{tag}").collect()
    assert len(got) > 0  # the pattern really matched before draining
    assert state_rows and max(state_rows) > 0  # state really existed
    assert state_rows[-1] == 0, state_rows  # full drain at quiescence


@pytest.mark.slow  # ~57 s; NFB tail semantics also pinned by the batch bruteforce property tests
def test_cep_nfb_tail_emission_waits_for_silent_horizon(spark, tmp_path):
    """The trailing-negative contract in isolation: a completed chain
    must NOT emit while its t1 + within horizon is still open (run A:
    stream ends before the horizon — zero rows, the pending is held),
    emits once the watermark passes the horizon silent (run B), and an
    error INSIDE (t_k, horizon] kills that pending while a later
    clean start still matches — the per-start re-seed end-to-end
    (run C)."""
    from flink_realtime_edu_spark.streaming.cep import (
        cep_not_followed_by_stream,
    )
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    steps, within = ["click", "purchase", ("not", "error")], "2 hours"
    base = [
        (0, "2024-01-01 00:00:00", 1, "click"),
        (1, "2024-01-01 00:10:00", 1, "purchase"),
    ]
    sentinel = [(9, "2024-01-02 00:00:00", 99, "noop")]
    poison = [
        (2, "2024-01-01 01:00:00", 1, "error"),  # inside (00:10, 02:00]
        (3, "2024-01-01 03:00:00", 1, "click"),  # re-seed past the kill
        (4, "2024-01-01 03:20:00", 1, "purchase"),
    ]
    runs = {
        "a": [base],                      # horizon never closes
        "b": [base, sentinel],            # closes silent -> emits
        "c": [base, poison, sentinel],    # killed; later start matches
    }

    def run(name: str, chunk_list):
        src = tmp_path / f"nfb_tail_{name}"
        src.mkdir()
        for i, chunk in enumerate(chunk_list):
            df = spark.createDataFrame(
                [(e, t, u, ty, 1.0, "{}") for e, t, u, ty in chunk],
                "event_id long, ts_s string, user_id long,"
                " event_type string, value double, props string",
            ).select(
                "event_id",
                F.to_timestamp("ts_s").alias("ts"),
                "user_id", "event_type", "value", "props",
            )
            df.coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / "stage")
            )
            for f in (tmp_path / "stage").glob("*.parquet"):
                shutil.copy(f, src / f"chunk-{i}.parquet")
            time.sleep(1.1)
        q = (
            cep_not_followed_by_stream(
                load_events_stream(spark, str(src), max_files_per_trigger=1),
                steps, within,
            )
            .writeStream.format("memory")
            .queryName(f"nfb_tail_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_tail_{name}"))
            .start()
        )
        run_to_completion(q)
        return sorted(
            (r.user_id, r.start_ts.isoformat(), r.end_ts.isoformat())
            for r in spark.sql(f"SELECT * FROM nfb_tail_{name}").collect()
        )

    assert run("a", runs["a"]) == []  # held, horizon still open
    assert run("b", runs["b"]) == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:10:00")
    ]
    assert run("c", runs["c"]) == [
        (1, "2024-01-01T03:00:00", "2024-01-01T03:20:00")
    ]


def test_cep_nfb_done_ttl_evicts_and_rematches(spark, tmp_path):
    """done_ttl on the notFollowedBy automaton (same contract as
    cep_first_match_stream's): with a TTL the done marker evicts once
    the watermark passes emitted_end + ttl, so a later clean chain
    matches again (first valid match per TTL window); a repeat inside
    the ttl stays suppressed; the default keeps first-match-ever."""
    from flink_realtime_edu_spark.streaming.cep import (
        cep_not_followed_by_stream,
    )
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    steps = ["view", ("not", "error"), "click", "purchase"]
    within = "2 hours"
    rows = {
        # chunk 0: user 1 completes a clean chain (emits at purchase)
        0: [
            (0, "2024-01-01 00:00:00", 1, "view"),
            (1, "2024-01-01 00:05:00", 1, "click"),
            (2, "2024-01-01 00:10:00", 1, "purchase"),
        ],
        # chunk 1: a repeat INSIDE the ttl (watermark 00:10 < marker
        # expiry 01:10) -> suppressed either way; bystander then
        # drives the watermark past the expiry
        1: [
            (3, "2024-01-01 00:30:00", 1, "view"),
            (4, "2024-01-01 00:35:00", 1, "click"),
            (5, "2024-01-01 00:40:00", 1, "purchase"),
            (6, "2024-01-01 05:00:00", 99, "purchase"),
        ],
        # chunk 2: user 1's chain after eviction -> re-match with ttl
        2: [
            (7, "2024-01-01 06:00:00", 1, "view"),
            (8, "2024-01-01 06:05:00", 1, "click"),
            (9, "2024-01-01 06:10:00", 1, "purchase"),
        ],
    }
    src = tmp_path / "nfb_ttl_src"
    src.mkdir()
    for i, chunk in rows.items():
        df = spark.createDataFrame(
            [(e, t, u, ty, 1.0, "{}") for e, t, u, ty in chunk],
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    def run(name: str, **kwargs):
        q = (
            cep_not_followed_by_stream(
                load_events_stream(spark, str(src), max_files_per_trigger=1),
                steps, within, **kwargs,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        run_to_completion(q)
        return sorted(
            (r.user_id, r.start_ts.isoformat(), r.end_ts.isoformat())
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    assert run("nfb_ttl", done_ttl="1 hour") == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:10:00"),
        (1, "2024-01-01T06:00:00", "2024-01-01T06:10:00"),  # re-match
    ]
    assert run("nfb_nottl") == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:10:00"),
    ]


def test_broadcast_rules_stream_picks_up_live_updates(spark, sf_dir, tmp_path):
    """Flink broadcast-state parity: the alerting stream evaluates
    each micro-batch against the rules snapshot CURRENT at that batch
    — a rule update published between batches changes behavior from
    the next batch on (one-trigger propagation), checkpoint-restart
    included; alerts land exactly-once through the commit-log sink."""
    from flink_realtime_edu_spark.sources.sinks import txn_committed, txn_read
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream
    from flink_realtime_edu_spark.streaming.rules import (
        evaluate_rules,
        rules_alerts_stream,
    )

    ev = load(spark, sf_dir, "events")
    n = ev.count()
    chunk0 = ev.filter(F.col("event_id") < n // 2)
    chunk1 = ev.filter(F.col("event_id") >= n // 2)

    rules_store = str(tmp_path / "rules_store")
    alerts = str(tmp_path / "alerts")
    src = tmp_path / "rules_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_rules")

    def rules_df(rows):
        return spark.createDataFrame(
            rows,
            "rule_id string, version long, event_type string, "
            "min_value double, active boolean",
        )

    def publish(rows, version):
        upsert_latest_by_key(rules_store, ["rule_id"], "version")(
            rules_df(rows), version
        )

    def feed(chunk, name):
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / name)

    # v1: alert on purchases over 120
    v1 = [("r-purchase", 1, "purchase", 120.0, True)]
    publish(v1, 0)
    feed(chunk0, "chunk-0.parquet")
    q = rules_alerts_stream(
        load_events_stream(spark, str(src)), rules_store, alerts, ckpt
    )
    run_to_completion(q)

    # v2 lands BETWEEN batches: threshold raised + a click rule added
    v2 = [
        ("r-purchase", 2, "purchase", 200.0, True),
        ("r-click", 1, "click", 150.0, True),
    ]
    publish(v2, 1)
    feed(chunk1, "chunk-1.parquet")
    q = rules_alerts_stream(
        load_events_stream(spark, str(src)), rules_store, alerts, ckpt
    )
    run_to_completion(q)

    got = _rows(txn_read(spark, alerts))
    want = _rows(
        evaluate_rules(chunk0, rules_df(v1)).unionByName(
            evaluate_rules(chunk1, rules_df(v2))
        )
    )
    assert got == want and len(want) > 0
    # both phases actually alerted, and phase 2 used the NEW rules:
    per_rule = {
        r.rule_id: r.n
        for r in txn_read(spark, alerts)
        .groupBy("rule_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_rule.get("r-click", 0) > 0  # new rule live in phase 2
    # old threshold (120) would have over-alerted phase 2: every
    # phase-2 purchase alert respects the v2 threshold
    assert (
        txn_read(spark, alerts)
        .filter((F.col("rule_id") == "r-purchase") & (F.col("value") < 200.0))
        .join(chunk1.select("event_id"), on="event_id", how="inner")
        .count()
        == 0
    )
    # exactly-once via the txn sink: one commit per processed batch
    assert txn_committed(alerts) == ["batch-0", "batch-1"]


def test_cep_strict_stream_equals_batch_across_batch_boundaries(
    spark, sf_dir, tmp_path
):
    """Strict-contiguity streaming CEP must reproduce the batch
    lead-conjunction exactly — including matches whose k consecutive
    events SPAN a micro-batch boundary, which the per-key ring-buffer
    state must carry (its KMP suffix-prefix trim included)."""
    from flink_realtime_edu_spark.operators.cep import cep_strict_matches
    from flink_realtime_edu_spark.streaming.cep import cep_strict_matches_stream
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    steps = ["error", "error", "error"]
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    src = tmp_path / "cep_strict_src"
    src.mkdir()
    # four chunks → three interior boundaries for runs to straddle
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        chunk = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    stream = cep_strict_matches_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1), steps
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cep_strict_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_strict"))
        .start()
    )
    run_to_completion(q)
    got = _rows(spark.sql("SELECT * FROM cep_strict_stream"))
    want = _rows(
        cep_strict_matches(ev, steps, order_cols=["event_id"])
    )
    assert got == want and len(want) > 0


def test_cep_done_marker_ttl_evicts_and_rematches(spark, tmp_path):
    """done_ttl contract (VERDICT r6 item 5): with a TTL, a completed
    key's done marker is EVICTED once the watermark passes
    end_ts + ttl, so a later chain matches again (first match per TTL
    window); a repeat completing while the marker is still live stays
    suppressed; and the default (no TTL) keeps first-match-ever."""
    from flink_realtime_edu_spark.streaming.cep import cep_first_match_stream

    steps, within = ["view", "click", "purchase"], "24 hours"
    rows = {
        # chunk 0: user 1 and user 2 complete their first chains
        0: [
            (0, "2024-01-01 00:00:00", 1, "view"),
            (1, "2024-01-01 00:10:00", 1, "click"),
            (2, "2024-01-01 00:20:00", 1, "purchase"),
            (3, "2024-01-01 00:00:30", 2, "view"),
            (4, "2024-01-01 00:01:00", 2, "click"),
            (5, "2024-01-01 00:02:00", 2, "purchase"),
        ],
        # chunk 1: user 2 repeats INSIDE the ttl (watermark is still
        # chunk 0's max, 00:20 < 02:02) -> suppressed; a bystander at
        # 09:00 drives the watermark past both users' ttl horizons
        1: [
            (6, "2024-01-01 01:00:00", 2, "view"),
            (7, "2024-01-01 01:01:00", 2, "click"),
            (8, "2024-01-01 01:02:00", 2, "purchase"),
            (9, "2024-01-01 09:00:00", 99, "view"),
        ],
        # chunk 2: user 1's second chain arrives after eviction
        2: [
            (10, "2024-01-01 10:00:00", 1, "view"),
            (11, "2024-01-01 10:10:00", 1, "click"),
            (12, "2024-01-01 10:20:00", 1, "purchase"),
        ],
    }
    src = tmp_path / "cep_ttl_src"
    src.mkdir()
    for i, chunk in rows.items():
        df = spark.createDataFrame(
            [(e, t, u, ty, 1.0, "{}") for e, t, u, ty in chunk],
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    def run(name: str, **kwargs):
        q = (
            cep_first_match_stream(
                load_events_stream(spark, str(src), max_files_per_trigger=1),
                steps, within, **kwargs,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        run_to_completion(q)
        return sorted(
            (r.user_id, r.start_ts.isoformat(), r.end_ts.isoformat())
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    with_ttl = run("cep_ttl", done_ttl="2 hours")
    assert with_ttl == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:20:00"),
        (1, "2024-01-01T10:00:00", "2024-01-01T10:20:00"),  # re-match
        (2, "2024-01-01T00:00:30", "2024-01-01T00:02:00"),  # repeat inside
    ]
    without = run("cep_nottl")
    assert without == [
        (1, "2024-01-01T00:00:00", "2024-01-01T00:20:00"),
        (2, "2024-01-01T00:00:30", "2024-01-01T00:02:00"),
    ]


def test_cep_ttl_expiry_reset_leaves_no_orphaned_state(spark, tmp_path):
    """Lazy-eviction reset must REMOVE the stored row, not just reset
    locals (ADVICE r8): a key whose expired state is detected on the
    DATA path (new events arrived in the very batch where its timer
    would have fired) but whose batch makes no step-0 progress used to
    skip update()/remove() entirely — leaving the old row in the store
    with its timer cleared and none re-armed, immortal if the key
    never returns. The fix evicts on detection; a batch that does make
    progress recreates the row via update() in the same invocation
    (user 2 pins that recreate path end-to-end)."""
    from flink_realtime_edu_spark.streaming.cep import cep_first_match_stream

    steps, within = ["view", "click", "purchase"], "2 hours"
    rows = {
        # chunk 0: users 1 and 2 open partial chains at 00:00/00:30
        0: [
            (0, "2024-01-01 00:00:00", 1, "view"),
            (1, "2024-01-01 00:30:00", 2, "view"),
        ],
        # chunk 1: bystander (step-0-inert type -> no state row of its
        # own) drives the watermark to 05:00, past both partials'
        # max(t1+within, tprev+ttl) = 02:00 / 02:30 deadlines
        1: [(2, "2024-01-01 05:00:00", 99, "purchase")],
        # chunk 2: both expired keys receive DATA in the batch where
        # their timers would have fired (data preempts the timeout
        # invocation). User 1's event makes NO step-0 progress — the
        # orphan shape; user 2's starts a fresh chain — the
        # remove-then-update recreate shape.
        2: [
            (3, "2024-01-01 06:00:00", 1, "purchase"),
            (4, "2024-01-01 06:10:00", 2, "view"),
        ],
        # chunk 3: user 2 completes the fresh chain; bystander holds
        # the final watermark at 07:00, BELOW user 2's done-marker
        # expiry (06:30 end + 1 h ttl) so exactly that one row must
        # remain in the store at end-of-stream.
        3: [
            (5, "2024-01-01 06:20:00", 2, "click"),
            (6, "2024-01-01 06:30:00", 2, "purchase"),
            (7, "2024-01-01 07:00:00", 98, "purchase"),
        ],
    }
    src = tmp_path / "cep_orphan_src"
    src.mkdir()
    for i, chunk in rows.items():
        df = spark.createDataFrame(
            [(e, t, u, ty, 1.0, "{}") for e, t, u, ty in chunk],
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    q = (
        cep_first_match_stream(
            load_events_stream(spark, str(src), max_files_per_trigger=1),
            steps, within, done_ttl="1 hour",
        )
        .writeStream.format("memory")
        .queryName("cep_orphan")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cep_orphan"))
        .start()
    )
    q.processAllAvailable()
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p.get("stateOperators")
    ]
    run_to_completion(q)
    got = sorted(
        (r.user_id, r.start_ts.isoformat(), r.end_ts.isoformat())
        for r in spark.sql("SELECT * FROM cep_orphan").collect()
    )
    # user 1 never completes (its 06:00 purchase is not a chain
    # start); user 2's recreated chain matches end-to-end
    assert got == [(2, "2024-01-01T06:10:00", "2024-01-01T06:30:00")]
    # the store's final census: user 2's live done marker ONLY — a
    # second row would be user 1's orphan (the pre-fix failure)
    assert state_rows and state_rows[-1] == 1


@pytest.mark.slow  # ~33 s; TTL-eviction class stays default via the expiry-reset / done-marker / nfb-done TTL tests
def test_cep_ttl_evicts_stale_partial_chains(spark, tmp_path):
    """Partial-chain TTL contract (r7, motivated by the
    state_growth.py measurement: done-only TTL left state ~linear in
    churned keys because never-completing chains were immortal):

    - a partial IDLE past the ttl but still inside its t1 + within
      completion horizon must NOT be evicted — its in-horizon
      completion still matches (user 1);
    - a partial past BOTH deadlines is evicted, so a later
      self-contained chain matches fresh (user 2) — whereas without
      a ttl the stale t1 makes the eventual completion over-horizon
      and the key is silently burned forever (done, no output)."""
    from flink_realtime_edu_spark.streaming.cep import cep_first_match_stream

    steps, within = ["view", "click", "purchase"], "2 hours"
    rows = {
        # chunk 0: two partial chains open at 00:00
        0: [
            (0, "2024-01-01 00:00:00", 1, "view"),
            (1, "2024-01-01 00:00:00", 2, "view"),
        ],
        # chunk 1: bystander drives the watermark to 01:30 — both
        # partials are now idle past ttl=1h but INSIDE their 02:00
        # completion horizon, so neither may be evicted yet
        1: [(2, "2024-01-01 01:30:00", 99, "view")],
        # chunk 2: user 1 completes in-horizon (must match: 01:50 -
        # 00:00 <= 2 h); a second bystander pushes the watermark to
        # 05:00, past user 2's max(t1+within, tprev+ttl) = 02:00
        2: [
            (3, "2024-01-01 01:45:00", 1, "click"),
            (4, "2024-01-01 01:50:00", 1, "purchase"),
            (5, "2024-01-01 05:00:00", 98, "view"),
        ],
        # chunk 3: user 2's fresh self-contained chain
        3: [
            (6, "2024-01-01 06:00:00", 2, "view"),
            (7, "2024-01-01 06:05:00", 2, "click"),
            (8, "2024-01-01 06:10:00", 2, "purchase"),
        ],
    }
    src = tmp_path / "cep_partial_ttl_src"
    src.mkdir()
    for i, chunk in rows.items():
        df = spark.createDataFrame(
            [(e, t, u, ty, 1.0, "{}") for e, t, u, ty in chunk],
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)

    def run(name: str, **kwargs):
        q = (
            cep_first_match_stream(
                load_events_stream(spark, str(src), max_files_per_trigger=1),
                steps, within, **kwargs,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .start()
        )
        run_to_completion(q)
        return sorted(
            (r.user_id, r.start_ts.isoformat(), r.end_ts.isoformat())
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    with_ttl = run("cep_partial_ttl", done_ttl="1 hour")
    assert with_ttl == [
        (1, "2024-01-01T00:00:00", "2024-01-01T01:50:00"),  # kept partial
        (2, "2024-01-01T06:00:00", "2024-01-01T06:10:00"),  # evicted+fresh
    ]
    without = run("cep_partial_nottl")
    assert without == [
        (1, "2024-01-01T00:00:00", "2024-01-01T01:50:00"),
        # user 2: stale t1 makes the 06:10 completion over-horizon —
        # done with no output, the first-match-ever price
    ]


def test_cep_group_times_stream_equals_batch(spark, sf_dir, tmp_path):
    """The streaming GROUP-pattern twin (one NFA over the flattened
    group x n list, completions fired exclusively at repetition
    boundaries) must reproduce the batch union-of-enumerations
    exactly on an ordered replay, using the registered query's own
    spec — in particular a partial that emits the r = 1 chain must
    SURVIVE to emit its r = 2 extension, and half-repetitions must
    never emit."""
    from flink_realtime_edu_spark.operators.cep import cep_group_times
    from flink_realtime_edu_spark.streaming.cep import (
        cep_group_times_stream,
    )
    from flink_realtime_edu_spark.streaming.jobs import load_events_stream

    group = [("signup", 1, 1), ("click", 1, 1)]
    times = (1, 2)
    within = "12 hours"
    base = load(spark, sf_dir, "events")
    n0 = base.count()
    # sf0.001 carries no 2-repetition chain — plant one synthetic user
    # (ids past the real range so the chunks stay event-time ordered)
    planted = spark.createDataFrame(
        [
            (n0 + i, f"2024-02-01 0{2 * i}:00:00", 99999, t, 1.0, "{}")
            for i, t in enumerate(["signup", "click", "signup", "click"])
        ],
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    ev = base.select(*planted.columns).unionByName(planted)
    n = n0 + 4
    src = tmp_path / "amgt_src"
    src.mkdir()
    for i, (lo, hi) in enumerate(
        [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    ):
        chunk = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage")
        )
        for f in (tmp_path / "stage").glob("*.parquet"):
            shutil.copy(f, src / f"chunk-{i}.parquet")
        time.sleep(1.1)
    stream = cep_group_times_stream(
        load_events_stream(spark, str(src), max_files_per_trigger=1),
        group,
        times,
        within,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("amgt_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_amgt"))
        .start()
    )
    run_to_completion(q)
    got = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in spark.sql("SELECT * FROM amgt_stream").collect()
    )
    want = sorted(
        (r.user_id, r.start_ts, r.end_ts, r.n_events, r.chain_str)
        for r in cep_group_times(
            ev, group, times, within, max_matches_per_key=10**6
        ).collect()
    )
    assert got == want and len(want) > 0
    # both repetition counts must actually be exercised
    assert {g[3] for g in got} == {2, 4}


def test_streaming_dsir_scores_equal_batch_and_replay_safe(spark, sf_dir, tmp_path):
    """X7 streaming twin: documents streamed in micro-batches and
    scored against a FROZEN DSIR model reproduce the batch scorer's
    per-document weights exactly (stateless per doc ⇒ stream ≡ batch
    by construction — this pins the plumbing: model freeze/reload,
    per-batch paths, schema), and replaying a batch is idempotent."""
    from flink_realtime_edu_spark.queries.training import (
        dsir_features,
        dsir_fit,
        dsir_score,
    )
    from flink_realtime_edu_spark.streaming.scoring import (
        read_scored_output,
        streaming_dsir_scorer,
        write_dsir_model,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    corpus = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # Fit on the corpus batch-side and freeze — BEFORE planting the
    # novel doc, so its bigrams hash to buckets the fit never saw and
    # the out-of-vocabulary smoothed weight is exercised end-to-end.
    feat_t = dsir_features(
        corpus.select("doc_id", (F.col("source") == "src0").alias("is_t"), "text"),
        carry=("is_t",),
    )
    wts = dsir_fit(feat_t)
    assert wts.count() == 4096  # full-B model: unseen buckets present
    model_dir = str(tmp_path / "dsir_model")
    write_dsir_model(wts, model_dir)
    novel = spark.createDataFrame(
        [(990001, "zz_nvl", "qqxv wwyz qqxv wwyz zzabc qqxv")],
        "doc_id long, source string, text string",
    )
    docs = corpus.unionByName(novel)

    src = tmp_path / "docs_src"
    docs.select("doc_id", "text").repartition(3).write.parquet(str(src))
    out_dir = str(tmp_path / "scores_out")
    sink = streaming_dsir_scorer(model_dir, out_dir)
    stream_schema = "doc_id long, text string"
    q = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "score_ckpt"))
        .start()
    )
    run_to_completion(q)

    got = read_scored_output(spark, out_dir)
    expected = dsir_score(
        dsir_features(docs.select("doc_id", "text")),
        spark.read.parquet(model_dir),
    )
    cols = ["doc_id", "n_feats", "log_weight", "target_like"]
    assert _rows(got.select(*cols)) == _rows(expected.select(*cols))
    assert got.count() == expected.count() > 0
    # the novel doc scored (not silently dropped), with a nonzero
    # weight from the smoothed unseen-bucket log-ratios
    nv = got.filter(F.col("doc_id") == 990001).collect()
    assert len(nv) == 1 and nv[0].n_feats == 5 and nv[0].log_weight != 0.0

    # Replay the last batch: output must be byte-identical.
    last_batch = got.agg(F.max("batch_id")).collect()[0][0]
    before = _rows(read_scored_output(spark, out_dir))
    replay_ids = [
        r.doc_id
        for r in got.filter(F.col("batch_id") == last_batch).collect()
    ]
    sink(docs.filter(F.col("doc_id").isin(replay_ids)).select("doc_id", "text"),
         last_batch)
    assert _rows(read_scored_output(spark, out_dir)) == before


def test_streaming_quality_scores_equal_batch_and_replay_safe(
    spark, sf_dir, tmp_path
):
    """X7 streaming twin of the trained quality classifier: fit
    batch-side, freeze the (f, w) micro-unit model, stream the corpus
    in micro-batches — per-document scores equal the batch pipeline's
    EXACTLY (integer-quantized scoring is stateless per doc), the
    hard gate column agrees with the exact-integer logit sign, and
    replaying a batch is a pure overwrite."""
    from flink_realtime_edu_spark.queries.training import (
        _DSIR_TARGET,
        qc_quantized_features,
        qc_score,
        quality_classifier_fit,
    )
    from flink_realtime_edu_spark.streaming.scoring import (
        read_scored_output,
        streaming_quality_scorer,
        write_quality_model,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    corpus = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    snaps, _qdf, _n = quality_classifier_fit(
        corpus, F.col("source").isin(*_DSIR_TARGET)
    )
    model_dir = str(tmp_path / "qc_model")
    write_quality_model(spark, snaps[-1], model_dir)

    src = tmp_path / "qc_docs_src"
    corpus.select("doc_id", "text").repartition(3).write.parquet(str(src))
    out_dir = str(tmp_path / "qc_scores_out")
    sink = streaming_quality_scorer(model_dir, out_dir)
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "qc_ckpt"))
        .start()
    )
    run_to_completion(q)

    got = read_scored_output(spark, out_dir)
    expected = qc_score(
        qc_quantized_features(corpus.select("doc_id", "text")),
        spark.read.parquet(model_dir),
    )
    cols = ["doc_id", "n_feats", "z_e12", "prob", "predicted_target"]
    assert _rows(got.select(*cols)) == _rows(expected.select(*cols))
    assert got.count() == expected.count() > 0
    for r in got.collect():
        assert r.predicted_target == (r.z_e12 > 0)

    last_batch = got.agg(F.max("batch_id")).collect()[0][0]
    before = _rows(read_scored_output(spark, out_dir))
    replay_ids = [
        r.doc_id
        for r in got.filter(F.col("batch_id") == last_batch).collect()
    ]
    sink(
        corpus.filter(F.col("doc_id").isin(replay_ids)).select(
            "doc_id", "text"
        ),
        last_batch,
    )
    assert _rows(read_scored_output(spark, out_dir)) == before


def test_streaming_ivf_index_equals_batch_append_and_replays(
    spark, sf_dir, tmp_path
):
    """X6 ingest twin — streaming IVF index maintenance: vectors
    streamed in micro-batches against a FROZEN quantizer produce
    EXACTLY the (nid, cluster) assignment the batch ivf_append gives
    (assignment depends only on the centroids ⇒ stream ≡ batch),
    append-time PQ codes equal the batch pq_encode_index codes
    (encoding depends only on the frozen codebooks — r12 codes at
    rest), the read-back index is searchable through BOTH the
    IVF-Flat and the stored-code IVF×PQ paths (a planted near-copy
    of a query arriving mid-stream surfaces as top-1), and replaying
    the last batch is byte-identical."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_encode_index,
        pq_fit_sample,
    )
    from flink_realtime_edu_spark.operators.similarity import (
        _ivf_fit_assign,
        _ivf_probe_search,
        ivf_append,
    )
    from flink_realtime_edu_spark.streaming.annindex import (
        read_ivf_index,
        read_ivf_quantizer,
        read_pq_codebooks,
        streaming_ivf_index,
        write_ivf_quantizer,
        write_pq_codebooks,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # quantizer + PQ codebooks fit batch-side on the corpus, then frozen
    _, centers = _ivf_fit_assign(emb, "vec_id", "embedding", 16)
    quant_dir = str(tmp_path / "ivf_quant")
    write_ivf_quantizer(spark, centers, quant_dir)
    assert (read_ivf_quantizer(spark, quant_dir) == centers).all()
    codebooks = pq_fit_sample(emb, m=16, k=256)
    cb_dir = str(tmp_path / "pq_codebooks")
    write_pq_codebooks(spark, codebooks, cb_dir)
    assert (read_pq_codebooks(spark, cb_dir) == codebooks).all()

    # plant a near-copy of vector 0 in the stream
    base = emb.filter(F.col("vec_id") == 0).collect()[0]
    near = [x * 1.001 for x in base.embedding]
    planted = spark.createDataFrame(
        [(100000, near)], "vec_id long, embedding array<float>"
    )
    stream_vecs = emb.unionByName(planted)

    src = tmp_path / "ivf_src"
    stream_vecs.repartition(4).write.parquet(str(src))
    index_dir = str(tmp_path / "ivf_index")
    sink = streaming_ivf_index(quant_dir, index_dir, codebooks_dir=cb_dir)
    q = (
        spark.readStream.schema(stream_vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ivf_ckpt"))
        .start()
    )
    run_to_completion(q)

    idx = read_ivf_index(spark, index_dir)
    got = {(r.nid, r.cluster) for r in idx.collect()}
    batch_assigned = ivf_append(stream_vecs, centers)
    want = {(r.nid, r.cluster) for r in batch_assigned.collect()}
    assert got == want and len(got) == stream_vecs.count()

    # stream-encoded codes ≡ batch-encoded codes, none NULL
    got_codes = {(r.nid, bytes(r.code)) for r in idx.collect()}
    want_codes = {
        (r.nid, bytes(r.code))
        for r in pq_encode_index(batch_assigned, codebooks).collect()
    }
    assert got_codes == want_codes

    # searchable: the planted near-copy is query 0's IVF top-1
    top = _ivf_probe_search(
        idx, centers, emb.filter(F.col("vec_id") == 0),
        k=1, n_probe=4, id_col="vec_id", vec_col="embedding",
    ).collect()
    assert [(r.qid, r.nid) for r in top] == [(0, 100000)]
    # ...and the IVF×PQ path scores the STORED codes to the same hit
    top_pq = ivfpq_topk(
        idx, centers, emb.filter(F.col("vec_id") == 0), codebooks,
        k=1, n_probe=4, rerank_r=5,
    ).collect()
    assert [(r.qid, r.nid) for r in top_pq] == [(0, 100000)]

    # last-batch replay: byte-identical index
    before = _rows(read_ivf_index(spark, index_dir))
    last_ids = [r.nid for r in idx.limit(50).collect()]
    sink(
        stream_vecs.filter(F.col("vec_id").isin(last_ids)),
        batch_id=3,
    )
    assert _rows(read_ivf_index(spark, index_dir)) == before


def test_streaming_ivf_index_appends_onto_pre_code_schema(
    spark, sf_dir, tmp_path
):
    """On-disk schema migration (ADVICE r12): an index written BEFORE
    INDEX_SCHEMA gained `code` must keep working end to end —
    read_ivf_index null-fills the missing column, the streaming
    appender folds new (encoded) rows onto the old buckets without
    unionByName failing, the resulting MIXED index reads
    deterministically (mergeSchema, never schema-sampling an old
    file), and the IVF×PQ search auto-falls-back to encode-in-scan
    (null codes must never reach the byte scorer) with results
    identical to the explicit no-code path."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_fit_sample,
    )
    from flink_realtime_edu_spark.operators.similarity import (
        _ivf_fit_assign,
        ivf_append,
    )
    from flink_realtime_edu_spark.streaming.annindex import (
        read_ivf_index,
        streaming_ivf_index,
        write_ivf_quantizer,
        write_pq_codebooks,
    )
    from flink_realtime_edu_spark.streaming.sinks import (
        BUCKET_COL,
        check_bucket_layout,
        key_bucket_col,
        run_to_completion,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    _, centers = _ivf_fit_assign(emb, "vec_id", "embedding", 16)
    quant_dir = str(tmp_path / "mig_quant")
    write_ivf_quantizer(spark, centers, quant_dir)
    codebooks = pq_fit_sample(emb, m=16, k=256)
    cb_dir = str(tmp_path / "mig_cb")
    write_pq_codebooks(spark, codebooks, cb_dir)

    # the pre-r13 layout: (nid, cluster, cv, first_seen_batch) — no code
    index_dir = str(tmp_path / "mig_index")
    (
        ivf_append(base, centers)
        .select(
            "nid",
            "cluster",
            F.col("cv").cast("array<float>").alias("cv"),
            F.lit(-1).cast("long").alias("first_seen_batch"),
        )
        .withColumn(BUCKET_COL, key_bucket_col(["cluster"], 8))
        .write.partitionBy(BUCKET_COL)
        .parquet(index_dir)
    )
    check_bucket_layout(index_dir, 8)

    # read-back of the wholly-old index: code null-filled, searchable
    idx_old = read_ivf_index(spark, index_dir)
    assert "code" in idx_old.columns
    assert idx_old.filter(F.col("code").isNotNull()).isEmpty()

    # append an ENCODED delta onto the old store → mixed index
    src = tmp_path / "mig_src"
    delta.repartition(2).write.parquet(str(src))
    sink = streaming_ivf_index(quant_dir, index_dir, codebooks_dir=cb_dir)
    q = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "mig_ckpt"))
        .start()
    )
    run_to_completion(q)

    idx = read_ivf_index(spark, index_dir)
    assert idx.count() == emb.count()
    # old rows keep null codes, appended rows carry real codes — the
    # mixed read must not silently drop either side's column values
    coded = idx.filter(F.col("code").isNotNull())
    assert coded.count() == delta.count()
    assert (
        coded.join(delta.select(F.col("vec_id").alias("nid")), "nid").count()
        == delta.count()
    )

    # the IVF×PQ search on the mixed index must fall back to
    # encode-in-scan (not crash in the byte scorer) and match the
    # explicit no-code path exactly
    q0 = emb.filter(F.col("vec_id") == 0)
    got = ivfpq_topk(
        idx, centers, q0, codebooks, k=3, n_probe=4, rerank_r=10
    ).collect()
    want = ivfpq_topk(
        idx.drop("code"), centers, q0, codebooks, k=3, n_probe=4, rerank_r=10
    ).collect()
    assert [(r.qid, r.nid, r.approx_cos) for r in got] == [
        (r.qid, r.nid, r.approx_cos) for r in want
    ]
    assert len(got) == 3


def test_ivf_index_rebuild_then_stream_append(spark, sf_dir, tmp_path):
    """The refit/rebuild path (r12 — the batch-side counterpart the
    append sink's header defers to): rebuild_ivf_index over a corpus
    must (a) write EXACTLY the assignment/codes the batch operators
    produce (rebuild ≡ _ivf_fit_assign + pq_encode_index — same
    functions by construction, pinned against drift), (b) produce a
    store the STREAMING appender continues on cleanly (fresh deltas
    append under the frozen rebuilt quantizer; rebuilt rows carry
    first_seen_batch = -1 so they win min_by ties against any
    replayed batch), and (c) stay searchable end-to-end through the
    stored-code IVF×PQ path."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_encode_index,
        pq_fit_sample,
    )
    from flink_realtime_edu_spark.operators.similarity import (
        _ivf_fit_assign,
        ivf_append,
    )
    from flink_realtime_edu_spark.streaming.annindex import (
        read_ivf_index,
        read_ivf_quantizer,
        read_pq_codebooks,
        rebuild_ivf_index,
        streaming_ivf_index,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)

    quant_dir = str(tmp_path / "rb_quant")
    index_dir = str(tmp_path / "rb_index")
    cb_dir = str(tmp_path / "rb_cb")
    rebuild_ivf_index(base, quant_dir, index_dir, codebooks_dir=cb_dir)

    # (a) rebuild ≡ the batch operators under the frozen artifacts
    centers = read_ivf_quantizer(spark, quant_dir)
    codebooks = read_pq_codebooks(spark, cb_dir)
    assigned, centers_fit = _ivf_fit_assign(base, "vec_id", "embedding", 16)
    assert (centers == centers_fit).all()
    want = {
        (r.nid, r.cluster, bytes(r.code))
        for r in pq_encode_index(assigned, codebooks).collect()
    }
    idx0 = read_ivf_index(spark, index_dir)
    got = {(r.nid, r.cluster, bytes(r.code)) for r in idx0.collect()}
    assert got == want and len(got) == base.count()

    # (b) the streaming appender continues on the rebuilt store
    src = tmp_path / "rb_src"
    delta.repartition(2).write.parquet(str(src))
    sink = streaming_ivf_index(quant_dir, index_dir, codebooks_dir=cb_dir)
    q = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "rb_ckpt"))
        .start()
    )
    run_to_completion(q)
    idx = read_ivf_index(spark, index_dir)
    assert idx.count() == emb.count()
    appended = {
        (r.nid, r.cluster)
        for r in idx.join(delta.select(F.col("vec_id").alias("nid")), "nid")
        .select("nid", "cluster")
        .collect()
    }
    assert appended == {
        (r.nid, r.cluster) for r in ivf_append(delta, centers).collect()
    }

    # (c) searchable through the stored-code IVF×PQ path
    q0 = emb.filter(F.col("vec_id") == 0)
    top = ivfpq_topk(
        idx, centers, q0, codebooks, k=1, n_probe=4, rerank_r=5
    ).collect()
    assert len(top) == 1 and top[0].qid == 0 and top[0].nid != 0


def test_streaming_knn_graph_equals_batch_and_replays(spark, sf_dir, tmp_path):
    """X6 ingest tier — incremental k-NN graph maintenance
    (streaming/knngraph.py): vectors streamed in micro-batches under
    a FROZEN LSH geometry must converge to EXACTLY the batch
    knn_graph_lsh over the union corpus (every bucket-mate pair is
    scored once, when the later end arrives; same kernel, same
    comparator ⇒ bit-equal (src, dst, cos) sets), and replaying the
    last batch must be byte-idempotent (edges-before-tags ordering +
    the anti-join make it a no-op)."""
    from flink_realtime_edu_spark.operators.similarity import knn_graph_lsh
    from flink_realtime_edu_spark.streaming.knngraph import (
        read_knn_graph,
        streaming_knn_graph,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    src = tmp_path / "kg_src"
    emb.repartition(3).write.parquet(str(src))
    tags_dir = str(tmp_path / "kg_tags")
    edges_dir = str(tmp_path / "kg_edges")
    sink = streaming_knn_graph(tags_dir, edges_dir, k=5, n_planes=4)
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "kg_ckpt"))
        .start()
    )
    run_to_completion(q)

    got = {
        (r.src, r.dst, r.cos)
        for r in read_knn_graph(spark, edges_dir, k=5).collect()
    }
    want = {
        (r.src, r.dst, r.cos)
        for r in knn_graph_lsh(
            emb, k=5, n_planes=4, max_bucket_rows=10**9
        ).collect()
    }
    assert got == want and got

    # last-batch replay: byte-identical stores
    before = _rows(read_knn_graph(spark, edges_dir, k=5))
    replay_ids = [r.vec_id for r in emb.limit(40).collect()]
    sink(emb.filter(F.col("vec_id").isin(replay_ids)), batch_id=99)
    assert _rows(read_knn_graph(spark, edges_dir, k=5)) == before


def test_ivf_store_generations_rebuild_append_vacuum(spark, sf_dir, tmp_path):
    """Generationed store lifecycle (VERDICT r12 item 6): rebuild →
    N appends → rebuild → vacuum must leave only live generations on
    disk, under the txn_vacuum two-phase contract — an in-flight
    reader that resolved its generation just before the swap keeps
    working through ONE full maintenance cycle (first vacuum only
    demotes), a NEW resolution of a vacuumed generation fails
    loudly, and the second vacuum reclaims the dirs."""
    import pytest as _pytest

    from flink_realtime_edu_spark.streaming.annindex import (
        ivf_store_current,
        ivf_store_rebuild,
        ivf_store_vacuum,
        read_ivf_index,
        streaming_ivf_index,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    root = tmp_path / "gen_store"

    gen1 = ivf_store_rebuild(base, str(root))
    q1, i1, c1 = ivf_store_current(str(root))
    assert gen1 in i1
    # N appends into the CURRENT generation's index (batch-side calls
    # of the same foreachBatch sink the stream would run)
    sink = streaming_ivf_index(q1, i1, codebooks_dir=c1)
    for bid, part in enumerate([delta.filter(F.col("vec_id") % 20 == 7),
                                delta.filter(F.col("vec_id") % 20 == 17)]):
        sink(part, batch_id=bid)
    assert read_ivf_index(spark, i1).count() == emb.count()

    # refit on the grown corpus → generation 2; gen1 stays on disk
    gen2 = ivf_store_rebuild(emb, str(root))
    assert ivf_store_current(str(root))[1].find(gen2) >= 0
    assert (root / gen1).is_dir()

    # in-flight reader: resolved gen1 BEFORE the first vacuum...
    inflight = read_ivf_index(spark, i1)
    assert ivf_store_vacuum(str(root), keep_generations=0) == 0  # demote only
    # ...survives one maintenance cycle (files intact, marker gone)
    assert inflight.count() == emb.count()
    # but a NEW resolution of the demoted generation fails loudly
    ptr = root / "_CURRENT"
    ptr_backup = ptr.read_text()
    ptr.write_text(gen1)
    with _pytest.raises(FileNotFoundError, match="vacuumed or incomplete"):
        ivf_store_current(str(root))
    ptr.write_text(ptr_backup)

    # second cycle reclaims the dirs; only the live generation remains
    assert ivf_store_vacuum(str(root), keep_generations=0) == 1
    gens = sorted(p.name for p in root.iterdir() if p.name.startswith("gen-"))
    assert gens == [gen2]
    # the live generation is whole and searchable
    assert read_ivf_index(spark, ivf_store_current(str(root))[1]).count() == emb.count()


def test_ivfpq_store_reuse_keeps_live_store_from_reaper(
    spark, sf_dir, monkeypatch
):
    """The persisted IVF×PQ store is touched on every reuse, so a
    session alive past the 6 h stale-store cutoff keeps its store: a
    store aged past the cutoff and THEN reused survives a sibling
    build's reap, while an aged sibling nobody reuses is still
    reaped."""
    import os

    from flink_realtime_edu_spark.queries import similarity as qs

    live = Path(qs._ivfpq_store_dirs(spark, sf_dir)[0]).parent
    stale = live.with_name("ivfpq_store_nobodyreuses")
    stale.mkdir(exist_ok=True)
    aged = time.time() - 7 * 3600
    for d in (live, stale):
        os.utime(d, (aged, aged))
    qs._ivfpq_store_dirs(spark, sf_dir)  # reuse of the completed store
    # another store version under the same root: a sibling build
    monkeypatch.setattr(qs, "_IVFPQ_STORE_VERSION", -1)
    sibling = Path(qs._ivfpq_store_dirs(spark, sf_dir)[0]).parent
    try:
        assert (live / "_COMPLETE").exists()
        assert not stale.exists()
    finally:
        shutil.rmtree(sibling, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)


def test_streaming_ivf_index_survives_restart_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """Kill the IVF index stream mid-run and restart from the same
    checkpoint: the interrupted batch replays against the index it
    already (partially) wrote — frozen-quantizer assignment +
    min_by-by-first-batch fold make that a no-op — and the end state
    equals an uninterrupted batch append exactly."""
    from flink_realtime_edu_spark.operators.similarity import (
        _ivf_fit_assign,
        ivf_append,
    )
    from flink_realtime_edu_spark.streaming.annindex import (
        read_ivf_index,
        streaming_ivf_index,
        write_ivf_quantizer,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, centers = _ivf_fit_assign(emb, "vec_id", "embedding", 16)
    quant_dir = str(tmp_path / "ivf_rs_quant")
    write_ivf_quantizer(spark, centers, quant_dir)

    src = tmp_path / "ivf_rs_src"
    emb.repartition(6).write.parquet(str(src))
    index_dir = str(tmp_path / "ivf_rs_index")
    ckpt = str(tmp_path / "ivf_rs_ckpt")
    sink = streaming_ivf_index(quant_dir, index_dir)

    def start():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    await_progress(q1, min_batch_id=1)
    q1.stop()
    q1.awaitTermination()

    q2 = start()
    run_to_completion(q2)

    got = {
        (r.nid, r.cluster)
        for r in read_ivf_index(spark, index_dir).collect()
    }
    want = {(r.nid, r.cluster) for r in ivf_append(emb, centers).collect()}
    assert got == want and len(got) == emb.count()


def test_streaming_semantic_dedup_invariant_and_replay(spark, sf_dir, tmp_path):
    """X5/X6 streaming twin — incremental SemDeDup against the
    survivor index: every vector classified exactly once; the KEPT-SET
    INVARIANT holds (no two kept vectors in a block within threshold —
    the same guarantee the batch operator gives); every duplicate has
    a DIRECT ≥-threshold edge to its recorded survivor and that
    survivor is kept; the index equals the kept set; and replaying the
    last batch is byte-identical (every dup re-finds its survivor in
    the index — the property the greedy direct-edge rule buys)."""
    from flink_realtime_edu_spark.operators.similarity import (
        _round_half_up,
        semantic_dedup,  # noqa: F401  (imported for parity reference)
    )
    from flink_realtime_edu_spark.streaming.semdedup import (
        read_semdedup_index,
        read_semdedup_output,
        streaming_semantic_dedup,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    import numpy as np

    T = 0.40
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("block"), "embedding"
    )
    src = tmp_path / "emb_src"
    emb.repartition(4).write.parquet(str(src))

    index_dir = str(tmp_path / "sem_index")
    out_dir = str(tmp_path / "sem_out")
    sink = streaming_semantic_dedup(index_dir, out_dir, threshold=T)
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "sem_ckpt"))
        .start()
    )
    run_to_completion(q)

    out = read_semdedup_output(spark, out_dir).cache()
    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()

    rows = {r.vec_id: r for r in out.collect()}
    vecs = {
        r.vec_id: (r.block, np.asarray(r.embedding, dtype=np.float64))
        for r in emb.collect()
    }

    def cos(a, b):
        na, nb = np.sqrt(a @ a), np.sqrt(b @ b)
        return float(_round_half_up(np.array([a @ b / (na * nb)]))[0])

    kept = [v for v in rows.values() if v.status == "kept"]
    # invariant: no two kept vectors within a block reach the threshold
    by_block: dict = {}
    for r in kept:
        by_block.setdefault(r.block, []).append(r.vec_id)
    for blk, ids in by_block.items():
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                c = cos(vecs[ids[i]][1], vecs[ids[j]][1])
                assert c < T, (blk, ids[i], ids[j], c)

    # every dup: direct edge to its survivor, survivor kept, same block
    for r in rows.values():
        if r.status == "kept":
            assert r.survivor_id == r.vec_id
            continue
        s = rows[r.survivor_id]
        assert s.status == "kept" and s.block == r.block
        assert cos(vecs[r.vec_id][1], vecs[r.survivor_id][1]) >= T

    # index == kept set
    idx = read_semdedup_index(spark, index_dir)
    assert sorted(r.vec_id for r in idx.select("vec_id").collect()) == sorted(
        r.vec_id for r in kept
    )

    # the threshold bites on this corpus (non-vacuous)
    assert any(r.status != "kept" for r in rows.values())
    assert any(r.status == "dup_of_corpus" for r in rows.values())

    # replay the last batch: output and index byte-identical
    last_batch = out.agg(F.max("batch_id")).collect()[0][0]
    replay_ids = [
        r.vec_id for r in out.filter(F.col("batch_id") == last_batch).collect()
    ]
    before_out = _rows(read_semdedup_output(spark, out_dir))
    before_idx = _rows(read_semdedup_index(spark, index_dir))
    sink(emb.filter(F.col("vec_id").isin(replay_ids)), last_batch)
    assert _rows(read_semdedup_output(spark, out_dir)) == before_out
    assert _rows(read_semdedup_index(spark, index_dir)) == before_idx


def test_streaming_semantic_dedup_replay_prefers_corpus_survivor(
    spark, tmp_path
):
    """Deterministic pin of the replay tie-break (ADVICE r10): a
    vector V classified dup_of_corpus against pre-batch survivor S
    that is ALSO within threshold of a smaller-id survivor K kept in
    the same batch must re-find S on last-batch replay — a plain
    min-s_id probe would pick K (already swapped into the index) and
    flip V's status to dup_in_batch, breaking byte-identical replay.
    Geometry: S=(1,0), K=(0,1) orthogonal (cos 0 < T), V=(1,1)/√2
    near both (cos .7071 ≥ T); ids K=1 < V=2 < S=100."""
    from flink_realtime_edu_spark.streaming.semdedup import (
        read_semdedup_index,
        read_semdedup_output,
        streaming_semantic_dedup,
    )

    T = 0.40
    dim = 4

    def vec(*xs):
        return [float(x) for x in xs] + [0.0] * (dim - len(xs))

    schema = "vec_id long, block long, embedding array<float>"
    b1 = spark.createDataFrame([(100, 7, vec(1, 0))], schema)
    b2 = spark.createDataFrame(
        [(1, 7, vec(0, 1)), (2, 7, vec(1, 1))], schema
    )

    index_dir = str(tmp_path / "tie_index")
    out_dir = str(tmp_path / "tie_out")
    sink = streaming_semantic_dedup(index_dir, out_dir, threshold=T)
    sink(b1, 0)
    sink(b2, 1)

    def snap():
        out = {
            r.vec_id: (r.survivor_id, r.survivor_batch, r.status)
            for r in read_semdedup_output(spark, out_dir).collect()
        }
        idx = sorted(
            r.vec_id
            for r in read_semdedup_index(spark, index_dir).collect()
        )
        return out, idx

    first_out, first_idx = snap()
    assert first_out[100] == (100, 0, "kept")
    assert first_out[1] == (1, 1, "kept")
    # V dups against the CORPUS survivor S=100, not same-batch K=1
    assert first_out[2] == (100, 0, "dup_of_corpus")
    assert first_idx == [1, 100]

    # last-batch replay: the index now holds K=1; byte-identical output
    sink(b2, 1)
    assert snap() == (first_out, first_idx)


def test_streaming_semantic_dedup_survives_restart_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """Kill the incremental SemDeDup stream mid-run and restart from
    the same checkpoint: offsets resume, the interrupted batch replays
    against the survivor index it already wrote (the crash-replay the
    sink's direct-edge rule is built for), and the end state — full
    coverage, kept-set invariant inputs, index == kept set — is
    indistinguishable from an uninterrupted run."""
    from flink_realtime_edu_spark.streaming.semdedup import (
        read_semdedup_index,
        read_semdedup_output,
        streaming_semantic_dedup,
    )
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    T = 0.40
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("block"), "embedding"
    )
    src = tmp_path / "emb_rs_src"
    emb.repartition(6).write.parquet(str(src))

    index_dir = str(tmp_path / "sem_rs_index")
    out_dir = str(tmp_path / "sem_rs_out")
    ckpt = str(tmp_path / "sem_rs_ckpt")
    sink = streaming_semantic_dedup(index_dir, out_dir, threshold=T)

    def start():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    await_progress(q1, min_batch_id=1)
    q1.stop()
    q1.awaitTermination()

    q2 = start()
    run_to_completion(q2)

    out = read_semdedup_output(spark, out_dir)
    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()
    kept = out.filter(F.col("status") == "kept")
    idx = read_semdedup_index(spark, index_dir)
    assert sorted(r.vec_id for r in idx.select("vec_id").collect()) == sorted(
        r.vec_id for r in kept.select("vec_id").collect()
    )
    # dups still point at kept survivors in their own block
    surv = kept.select(
        F.col("vec_id").alias("survivor_id"), F.col("block").alias("sblock")
    )
    dangling = (
        out.filter(F.col("status") != "kept")
        .join(surv, "survivor_id", "left")
        .filter(F.col("sblock").isNull() | (F.col("sblock") != F.col("block")))
    )
    assert dangling.count() == 0


_CEP_SUBPROCESS = """
import datetime, sys
sys.path.insert(0, sys.argv[1])
from flink_realtime_edu_spark.session import get_spark
from flink_realtime_edu_spark.streaming.cep import cep_with_timeouts_stream
from flink_realtime_edu_spark.streaming.sinks import run_to_completion

spark = get_spark(app_name="cep-by-value", shuffle_partitions=2)
t0 = datetime.datetime(2024, 1, 1)
minutes = lambda m: t0 + datetime.timedelta(minutes=m)
spark.createDataFrame(
    [
        (1, minutes(0), "view", 1),
        (1, minutes(10), "click", 2),
        (2, minutes(5), "view", 3),
        (99, minutes(600), "noop", 4),
    ],
    "user_id long, ts timestamp, event_type string, event_id long",
).coalesce(1).write.parquet("src")
stream = cep_with_timeouts_stream(
    spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, event_id long"
    ).parquet("src"),
    ["view", "click"],
    "1 hour",
)
q = (
    stream.writeStream.format("memory").queryName("out")
    .option("checkpointLocation", "ckpt").start()
)
run_to_completion(q)
print(sorted(
    (r.user_id, r.timed_out, r.matched_steps)
    for r in spark.sql("SELECT * FROM out").collect()
))
spark.stop()
"""


def test_cep_stream_runs_from_a_cwd_without_the_package(tmp_path):
    """A driver that imports this package from a checkout while its
    cwd is elsewhere must still run the streaming automata, whose
    ``applyInPandasWithState`` functions ship by value with the rest
    of the package (the package root's one registration). Runs one
    small CEP stream in a fresh process whose cwd is ``tmp_path``;
    the batch stages have their twin in tests/test_by_value.py."""
    from tests.foreign_cwd import run_without_the_package

    proc = run_without_the_package(_CEP_SUBPROCESS, tmp_path)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == (
        "[(1, False, 2), (2, True, 1)]"
    ), proc.stdout
