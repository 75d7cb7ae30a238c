#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.md protocol).

Runs the headline queries (bench=True in the registry; --all for the
full inventory) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], forcing full materialization through the
noop sink (no driver collect), and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "sf": ..., ...}

--duckdb additionally times each query's oracle SQL in DuckDB for
the BASELINE.md comparison table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(sf_dir: str) -> float:
    try:
        return float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        return -1.0


def box_probe() -> float:
    """Wall-seconds for a FIXED single-thread CPU workload (sha256
    chain — no allocation growth, no I/O). The box exhibits bimodal
    host-level contention (nonzero steal time in /proc/stat inside
    this Firecracker VM): sustained windows where EVERY query slows
    uniformly ~1.5x. This probe pins the box's speed at measurement
    time so a slow official reading is attributable to machine state
    with in-band evidence rather than after-the-fact argument."""
    import hashlib

    t0 = time.perf_counter()
    h = b"x" * 4096
    for _ in range(20000):
        h = hashlib.sha256(h).digest() * 128
    return round(time.perf_counter() - t0, 4)


def box_probe_parallel() -> float:
    """Effective parallel speedup (ideal = 32) for a GIL-releasing
    fixed workload (sha256 over 4 MiB buffers, 32 threads). The
    bimodal slow phase hits the 32-way Spark JVM while leaving
    single-thread latency untouched, so THIS is the probe that
    tracks it; sha256 at this buffer size is partly memory-bandwidth
    bound, so fast-state readings sit near ~18, not 32."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    buf = b"x" * (4 << 20)

    def work(_):
        for _ in range(40):
            hashlib.sha256(buf).digest()

    t0 = time.perf_counter()
    work(0)
    single = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(32) as ex:
        list(ex.map(work, range(32)))
    wall = time.perf_counter() - t0
    return round(32 * single / wall, 1) if wall > 0 else 0.0


def read_steal() -> tuple[float, float]:
    """(steal_jiffies, total_jiffies) from /proc/stat — delta over
    the bench window gives the fraction of CPU stolen by the host."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [float(x) for x in parts]
        return vals[7] if len(vals) > 7 else 0.0, sum(vals)
    except OSError:
        return 0.0, 0.0


def run_spark(
    names, sf_dir: str, repeats: int
) -> tuple[dict[str, float], dict[str, list[float]], list[float]]:
    """(median timings, per-query [min, max] spread, spark calib
    readings — one before the timed passes and one after each pass).

    Median-of-N after a full warmup pass (VERDICT r6 item 1): the
    driver invokes bench.py exactly once, so the robustness against
    the box's documented ±20-25% jitter must live INSIDE this
    function — one anomalous repeat (page-cache eviction, GC pause,
    block-manager churn) must not become the official number.

    Repeats are INTERLEAVED as full passes over the query list (pass
    1 of every query, then pass 2, ...) rather than back-to-back per
    query: a query's N samples land minutes apart, so a transient
    slow window on the box inflates at most one sample per query and
    the median survives it. (A slow window spanning the WHOLE bench
    cannot be defeated by any in-process protocol — that case is
    attributed instead, via box_probe()/read_steal() in main().)"""
    import statistics

    from flink_realtime_edu_spark.queries import load_registry
    from flink_realtime_edu_spark.session import get_spark

    registry = load_registry()
    spark = get_spark(app_name="fres-bench")
    # Warmup pass: run every benched query once so JIT/codegen and
    # file-listing costs don't pollute the steady-state numbers
    # (first-run inflation measured at 3-7x on this JVM).
    for name in names:
        registry[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    def spark_calib() -> float:
        """Fixed same-stack yardstick: an in-JVM shuffle-free sum over
        spark.range(50M), timed. The Python/steal probes miss the
        dominant variance source here (time-varying host contention
        that hits the 32-thread JVM while leaving short single-thread
        probes near-flat); this one feels exactly what the queries
        feel. Documented fast-state reading ~0.10-0.15 s — a 1.5-2x
        calib marks a window where every wall time below is inflated
        by the same factor."""
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id)").write.format(
            "noop"
        ).mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    spark_calib()  # JIT warmup for the yardstick itself
    calib = [spark_calib()]
    runs: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(repeats):
        for name in names:
            t0 = time.perf_counter()
            registry[name].build(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs[name].append(time.perf_counter() - t0)
        calib.append(spark_calib())
    timings = {
        name: round(statistics.median(r), 3) for name, r in runs.items()
    }
    spread = {
        name: [round(min(r), 3), round(max(r), 3)]
        for name, r in runs.items()
    }
    spark.stop()
    return timings, spread, calib


def run_duckdb(names, sf_dir: str, repeats: int) -> dict[str, float]:
    import duckdb

    from flink_realtime_edu_spark.queries import load_registry
    from flink_realtime_edu_spark.sources import TABLES, table_path

    registry = load_registry()
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count()}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    timings: dict[str, float] = {}
    for name in names:
        spec = registry[name]
        if not spec.oracle:
            continue
        best = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            con.execute(spec.oracle).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    return timings


def run_streaming(sf_dir: str) -> dict[str, float]:
    """Streaming micro-bench (VERDICT r3 item 8): throughput (input
    rows/s of trigger time) and mean end-to-end micro-batch latency
    for the flagship streaming jobs — the T1 tumbling-window agg, the
    S2 SCD2 dimension maintainer and the T7 CEP automaton with
    timeouts — replaying the sf events table in event-time order as 8
    file-source micro-batches: sorted by (ts, event_id) and written by
    perfbench/datagen.py's replay writer (the one replay generator,
    shared with perfbench's stream_replay), so no row arrives behind
    the watermark. Metrics come from the queries' own progress
    telemetry (numInputRows / triggerExecution), the same numbers a
    production monitor would scrape."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sys.path.insert(0, str(REPO / "perfbench"))
    import datagen

    from flink_realtime_edu_spark.session import get_spark
    from flink_realtime_edu_spark.sources import table_path
    from flink_realtime_edu_spark.streaming.jobs import (
        load_events_stream,
        tumbling_stats_stream,
    )
    from flink_realtime_edu_spark.streaming.scd2 import maintain_scd2_dim
    from flink_realtime_edu_spark.streaming.sinks import run_to_completion

    spark = get_spark(app_name="fres-bench-streaming")
    work = Path(tempfile.mkdtemp(prefix="fres-stream-bench-"))
    out: dict[str, float] = {}
    try:
        src = str(work / "events_src")
        events = pq.read_table(table_path(sf_dir, "events"))
        ts = events.column("ts")
        if pa.types.is_integer(ts.type):  # the epoch-nanos on-disk shape
            ts = pc.divide(ts, 1000)
        events = events.set_column(
            events.schema.get_field_index("ts"),
            "ts",
            ts.cast(pa.timestamp("us"), safe=False),
        ).sort_by([("ts", "ascending"), ("event_id", "ascending")])
        datagen.write_replay(events, src, n_files=8, seed=0)

        def progress_metrics(query) -> tuple[float, float, dict[str, int], int]:
            """(rows/s, mean batch ms, final state-store footprint,
            rows dropped by the watermark).

            The state dict scrapes the LAST progress event carrying
            stateOperators — numRowsTotal / memory are the numbers a
            production monitor alarms on for unbounded state growth
            (VERDICT r6 item 5: observe it, don't just assert it). The
            drop count sums numRowsDroppedByWatermark over every
            trigger, so rows/s is read against the rows really
            processed."""
            rows = 0
            trigger_ms = 0.0
            batches = 0
            dropped = 0
            state: dict[str, int] = {}
            for p in query.recentProgress:
                for so in p.get("stateOperators") or []:
                    dropped += int(so.get("numRowsDroppedByWatermark") or 0)
                    if so.get("numRowsTotal") is not None:
                        state = {
                            "state_rows": int(so["numRowsTotal"]),
                            "state_mem_bytes": int(
                                so.get("memoryUsedBytes") or 0
                            ),
                        }
                n = p.get("numInputRows") or 0
                if n == 0:
                    continue
                rows += n
                trigger_ms += p["durationMs"]["triggerExecution"]
                batches += 1
            if trigger_ms == 0:
                return 0.0, 0.0, state, dropped
            return rows / (trigger_ms / 1000.0), trigger_ms / batches, state, dropped

        # T1: tumbling hourly agg -> noop sink, update mode
        q = (
            tumbling_stats_stream(load_events_stream(spark, src, max_files_per_trigger=1))
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", str(work / "ckpt_tumbling"))
            .start()
        )
        run_to_completion(q)
        rps, lat, state, dropped = progress_metrics(q)
        out["tumbling_rows_per_s"] = round(rps, 1)
        out["tumbling_rows_dropped_by_watermark"] = dropped
        out["tumbling_batch_ms_avg"] = round(lat, 1)
        for k, v in state.items():
            out[f"tumbling_{k}"] = v

        # S2: SCD2 dim maintainer (bucketed changelog + recompute)
        q = (
            load_events_stream(spark, src, max_files_per_trigger=1)
            .writeStream.foreachBatch(
                maintain_scd2_dim(str(work / "scd2_store"), n_buckets=8)
            )
            .option("checkpointLocation", str(work / "ckpt_scd2"))
            .start()
        )
        run_to_completion(q)
        rps, lat, _, dropped = progress_metrics(q)
        out["scd2_rows_per_s"] = round(rps, 1)
        out["scd2_rows_dropped_by_watermark"] = dropped
        out["scd2_batch_ms_avg"] = round(lat, 1)
        # SCD2 keeps its state in the bucketed on-disk store, not the
        # streaming state store — report the store footprint instead.
        out["scd2_store_bytes"] = sum(
            f.stat().st_size
            for f in (work / "scd2_store").rglob("*")
            if f.is_file()
        )

        # T7/CEP: the timeout-emitting keyed automaton (r5) — the
        # heaviest stateful operator family (per-key state machine +
        # event-time timers re-armed per invocation)
        from flink_realtime_edu_spark.streaming.cep import (
            cep_with_timeouts_stream,
        )

        q = (
            cep_with_timeouts_stream(
                load_events_stream(spark, src, max_files_per_trigger=1),
                ["view", "click", "purchase"],
                "24 hours",
            )
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", str(work / "ckpt_cep"))
            .start()
        )
        run_to_completion(q)
        rps, lat, state, dropped = progress_metrics(q)
        out["cep_rows_per_s"] = round(rps, 1)
        out["cep_rows_dropped_by_watermark"] = dropped
        out["cep_batch_ms_avg"] = round(lat, 1)
        for k, v in state.items():
            out[f"cep_{k}"] = v
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--all", action="store_true", help="bench the full inventory")
    ap.add_argument("--duckdb", action="store_true", help="also time oracle SQL in DuckDB")
    ap.add_argument(
        "--repeats",
        type=int,
        default=3,
        help="timed runs per query after warmup; the MEDIAN is reported",
    )
    ap.add_argument(
        "--no-streaming",
        action="store_true",
        help="skip the streaming throughput/latency section",
    )
    args = ap.parse_args()

    from flink_realtime_edu_spark.queries import load_registry

    registry = load_registry()
    names = sorted(n for n, s in registry.items() if args.all or s.bench)

    calib_pre = box_probe()
    par_pre = box_probe_parallel()
    steal0, total0 = read_steal()
    t_bench0 = time.perf_counter()
    spark_times, spread, spark_calib = run_spark(
        names, args.sf_dir, args.repeats
    )
    bench_wall = time.perf_counter() - t_bench0
    steal1, total1 = read_steal()
    calib_post = box_probe()
    par_post = box_probe_parallel()
    steal_frac = (
        round((steal1 - steal0) / (total1 - total0), 4)
        if total1 > total0
        else 0.0
    )
    total = round(sum(spark_times.values()), 3)
    # In-band box normalization (BASELINE.md round-9 protocol): the
    # r8 official reading degraded through a mode the parspeed-only
    # formula missed (single-thread calib DOUBLED while parspeed held
    # ~17), so the JSON now carries BOTH normalized diagnostics next
    # to the raw number — raw stays the acceptance metric; these are
    # the attribution evidence. References = the historically stable
    # fast-state readings (r1–r7): single-thread sha256 calib
    # ~0.08 s, 32-thread parallel speedup ~25.
    CALIB_REF_S, PARSPEED_REF = 0.08, 25.0
    mean_calib = (calib_pre + calib_post) / 2
    mean_par = (par_pre + par_post) / 2
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": spark_times,
        "query_spread": spread,
        "repeats": args.repeats,
        "sf": _sf_of(args.sf_dir),
        "sf_dir": args.sf_dir,
        "n_queries": len(spark_times),
        # Box-state attribution (BASELINE.md round-7 protocol): the
        # fixed-work probe's fast-state reading is ~0.10 s; ≥0.14 s
        # or steal_frac ≥ 0.05 marks a host-contended window where
        # every wall time inflates uniformly (observed ~1.5x).
        "box_calib_s": [calib_pre, calib_post],
        "box_parallel_speedup": [par_pre, par_post],
        "spark_calib_s": spark_calib,
        "box_steal_frac": steal_frac,
        "bench_wall_s": round(bench_wall, 1),
        "normalized_by_calib_s": (
            round(total * CALIB_REF_S / mean_calib, 3)
            if mean_calib > 0
            else None
        ),
        "normalized_by_parspeed_s": (
            round(total * mean_par / PARSPEED_REF, 3) if mean_par > 0 else None
        ),
        "calib_refs": {
            "box_calib_s": CALIB_REF_S,
            "box_parallel_speedup": PARSPEED_REF,
        },
    }
    if args.duckdb:
        duck = run_duckdb(names, args.sf_dir, args.repeats)
        result["duckdb_queries"] = duck
        result["duckdb_total"] = round(sum(duck.values()), 3)
    if not args.no_streaming:
        result["streaming"] = run_streaming(args.sf_dir)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
