#!/usr/bin/env python3
"""The repo benchmark: one workload, one fresh Spark session, one client.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 30 --trace 0

Workloads (``WORKLOADS`` below; perfbench/README.md says why each
exists):

- ``batch_headline``: six of the registry's nine ``bench=True`` queries
  and two lineitem joins, one pass (``BATCH_HEADLINE`` below says why);
- ``llm_fit``: the iterative-fit / pinned-frame LLM-data queries;
- ``stream_replay``: ``events`` replayed in event-time order, one file
  per trigger, through three streaming jobs, each drained in turn;
- ``dec_sum_ties`` (not measured): the three other ``bench=True``
  queries, which fail their oracle check on some seeds.

Inputs are generated from ``--seed`` (perfbench/datagen.py); the seed
also places the replay's file cut. Queries run in a fixed order.

Every op is checked against a reference: batch queries against their
DuckDB oracle through ``tests/oracle.py``, stream jobs against their
batch twins over exactly the replayed rows (plus zero rows dropped by
the watermark). An op that raises or differs counts in ``failed``.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics,
which come from the program's public functions, Spark's event log
(written uncompressed by this run) and ``StreamingQuery.recentProgress``.
The line before it, prefixed ``perfbench-report``, repeats every
figure the workload measured under its own name, with
``ops_total``/``ops_failed``.

The run reads and writes only below ``.perfbench_work/`` in the
checkout and stops the JVM it started before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

# Six ``bench=True`` queries, and two count-only lineitem joins
# (TPC-H Q12 and Q21 shapes) standing in for the other three, which sum
# price * (1 - discount): that exact decimal sum can end on a half-cent,
# where the engine and its DuckDB oracle round differently
# (perfbench/README.md, "A defect the checks expose"). They stay out of
# the measured workloads until that is fixed; ``dec_sum_ties`` runs them.
BATCH_HEADLINE = (
    "cosine_topk_bruteforce", "interval_join_click_purchase", "late_priority_mix",
    "near_dup_minhash", "session_window_stats", "token_topk", "tumbling_hourly_stats",
    "waiting_supplier_counts",
)
DEC_SUM_TIES = ("pricing_summary", "star_join_revenue", "top_parts_per_nation")
LLM_FIT = (
    "ivf_ann_topk", "ivfpq_residual_ann_topk", "kmeans_quality_summary",
    "quality_classifier_scores", "near_dup_embeddings",
)
STREAM_JOBS = ("tumbling", "cep", "scd2")
STATEFUL_JOBS = ("tumbling", "cep")
CEP_STEPS, CEP_WITHIN = ["view", "click", "purchase"], "24 hours"
SCD2_BUCKETS = 8

# Scale of the generated inputs (datagen.SIZES), tables each workload
# reads, and, for the replay, how many files the events are cut into.
ALL_TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
              "nation", "orders", "part", "region", "supplier")
WORKLOADS = {
    "batch_headline": {"sf": "sf0.01", "queries": BATCH_HEADLINE,
                       "reads": ("documents", "embeddings", "events", "lineitem", "orders",
                                 "supplier")},
    "llm_fit": {"sf": "sf0.01", "queries": LLM_FIT, "reads": ("documents", "embeddings")},
    "stream_replay": {"sf": "sf0.01", "queries": (), "reads": ("events",), "files": 2},
    "dec_sum_ties": {"sf": "sf0.01", "queries": DEC_SUM_TIES, "reads": ALL_TABLES},
}
MEASURED = ("batch_headline", "llm_fit", "stream_replay")  # the BENCHMARK.json workloads
SETUPS = 5


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    m = [
        ("session.get_spark_s", "s", "lower"),
        ("session.load_registry_s", "s", "lower"),
        ("session.jvm_peak_rss_mb", "MB", "lower"),
        ("session.persisted_rdds_end", "count", "lower"),
        ("session.persisted_bytes_end", "bytes", "lower"),
        ("sources.load_s", "s", "lower"),
        ("sources.input_bytes", "bytes", "lower"),
        ("queries.build_s", "s", "lower"),
        ("queries.exec_s", "s", "lower"),
        ("queries.build_jobs", "count", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.peak_tasks", "count", "higher"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.jvm_cpu_s", "s", "lower"),
        ("spark.python_s", "s", "lower"),
        ("spark.driver_s", "s", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("spark.spill_bytes", "bytes", "lower"),
        ("trace.cold_pass_s", "s", "lower"),
    ]
    for q in BATCH_HEADLINE + LLM_FIT:
        m += [
            (f"queries.build_s.{q}", "s", "lower"),
            (f"queries.exec_s.{q}", "s", "lower"),
            (f"queries.build_jobs.{q}", "count", "lower"),
            (f"spark.tasks.{q}", "count", "lower"),
            (f"spark.python_s.{q}", "s", "lower"),
        ]
    for j in STREAM_JOBS:
        m += [
            (f"streaming.{j}.rows_per_s", "rows/s", "higher"),
            (f"streaming.{j}.trigger_p50_ms", "ms", "lower"),
            (f"streaming.{j}.triggers", "count", "lower"),
            (f"streaming.{j}.add_batch_ms_p50", "ms", "lower"),
            (f"streaming.{j}.query_planning_ms_p50", "ms", "lower"),
            (f"streaming.{j}.wal_commit_ms_p50", "ms", "lower"),
            (f"streaming.{j}.tasks_per_trigger", "count", "lower"),
        ]
        if j in STATEFUL_JOBS:
            m += [
                (f"streaming.{j}.state_rows", "count", "lower"),
                (f"streaming.{j}.state_mem_bytes", "bytes", "lower"),
                (f"streaming.{j}.state_store_instances", "count", "lower"),
                (f"streaming.{j}.rows_dropped_by_watermark", "count", "lower"),
            ]
    m += [
        ("streaming.scd2.store_bytes", "bytes", "lower"),
        ("streaming.scd2.bytes_written_per_input_byte", "ratio", "lower"),
    ]
    return m


END_TO_END = (("setup_s", "s"), ("cold_pass_s", "s"))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0,
                    help="nominal measuring time; one run measures one fixed pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Self-test hook: corrupt one op's result before it is checked.
    ap.add_argument("--perturb", default=None, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def prepare_environment(work: Path, trace: bool) -> Path | None:
    """Keep every temp file of this process, the JVM and the Python
    workers below ``work``; in a traced run, turn on a plain
    (uncompressed, non-rolling) event log there. Must run before the
    JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Every JVM (the spark-submit launcher and the driver): temp files
    # under ``work``, and no hsperfdata file in the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = []
    log_dir = None
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = "".join(f"--conf {c} " for c in confs) + "pyspark-shell"
    return log_dir


class Collected:
    """A collected result in the shape ``tests.oracle.compare`` reads
    (``schema``, ``columns``, ``collect()``), so the check reuses the
    rows the timed pass already fetched instead of running it again."""

    def __init__(self, schema, rows):
        self.schema = schema
        self.columns = list(schema.names)
        self._rows = rows

    def collect(self):
        return self._rows


def perturb_rows(rows, width: int):
    """Replace the first row (or add one) with a row no real result
    holds, so the check must see a difference."""
    return [("perturbed",) * width] + [tuple(r) for r in rows[1:]]


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return 0.0


def persisted_state(spark) -> tuple[int, int]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return (
        int(jsc.getPersistentRDDs().size()),
        int(sum(i.memSize() + i.diskSize() for i in infos)),
    )


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def rows_key(rows):
    return sorted(repr(tuple(r)) for r in rows)


class Bench:
    def __init__(self, args, work: Path, log_dir: Path | None):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.work = work
        self.log_dir = log_dir
        self.spark = None
        self.registry = None
        self.report: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.op_times: dict[str, tuple[float, float]] = {}
        self.progress: dict[str, list] = {}
        self.run_ids: dict[str, str] = {}
        self.drain_s: dict[str, float] = {}

    # ---------------------------------------------------------- set-up
    def set_up(self, i: int) -> float:
        """One set-up: (re)start the session, load the registry, write
        this run's inputs. The first also pays interpreter imports and
        the JVM launch, timed from process start."""
        import datagen
        from flink_realtime_edu_spark.queries import load_registry
        from flink_realtime_edu_spark.session import get_spark

        t0 = T_START if i == 0 else time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        ts = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        tr = time.perf_counter()
        self.registry = load_registry()
        tl = time.perf_counter()
        if i == 0:
            self.layer["session.get_spark_s"] = tr - ts
            self.layer["session.load_registry_s"] = tl - tr
        stage = self.work / f"inputs-{i}"
        seed = self.args.seed
        if self.cfg["queries"]:
            self.data_dir = str(stage / "tables")
            datagen.write_tables(self.data_dir, self.cfg["sf"], seed, ALL_TABLES)
        else:
            events = datagen.make_tables(self.cfg["sf"], seed, ["events"])["events"]
            self.src_dir = str(stage / "replay")
            self.replay_files = datagen.write_replay(
                events, self.src_dir, self.cfg["files"], seed)
            # Reference tables: exactly the replayed rows, as one table.
            import pyarrow.parquet as pq

            self.data_dir = str(stage / "reference")
            os.makedirs(self.data_dir)
            pq.write_table(
                pq.ParquetDataset(self.replay_files).read(),
                os.path.join(self.data_dir, "events.parquet"),
            )
            self.replay_bytes = sum(os.path.getsize(f) for f in self.replay_files)
        return time.perf_counter() - t0

    # ------------------------------------------------------ batch pass
    def batch_pass(self) -> float:
        sc = self.spark.sparkContext
        # A fixed order: whichever query runs first pays the session's
        # first-use costs, and seeded orders swung the pass by up to 20 %.
        names = self.cfg["queries"]
        self.results = {}
        t0 = time.perf_counter()
        for name in names:
            self.attempted += 1
            try:
                sc.setJobGroup(f"{name}:build", name)
                tb = time.perf_counter()
                df = self.registry[name].build(self.spark, self.data_dir)
                te = time.perf_counter()
                sc.setJobGroup(f"{name}:exec", name)
                rows = df.collect()
                tx = time.perf_counter()
                self.results[name] = Collected(df.schema, rows)
                self.op_times[name] = (te - tb, tx - te)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                self.fail(name, exc)
        sc.setJobGroup("perfbench:idle", "idle")
        return time.perf_counter() - t0

    def check_batch(self) -> None:
        from tests.oracle import compare

        for name, got in self.results.items():
            if name == self.args.perturb:
                got = Collected(got.schema, perturb_rows(got.collect(), len(got.columns)))
            oracle = self.registry[name].oracle
            if oracle is None:
                continue  # rows-only: executing is the check
            try:
                compare(got, oracle, self.data_dir)
            except Exception as exc:  # noqa: BLE001
                self.fail(name, exc)

    # ----------------------------------------------------- stream pass
    def stream_pass(self) -> float:
        from flink_realtime_edu_spark.streaming.cep import cep_with_timeouts_stream
        from flink_realtime_edu_spark.streaming.jobs import (
            load_events_stream,
            tumbling_stats_stream,
        )
        from flink_realtime_edu_spark.streaming.scd2 import maintain_scd2_dim
        from flink_realtime_edu_spark.streaming.sinks import run_to_completion

        spark = self.spark
        self.tumbling_out: dict = {}
        self.cep_out: list = []
        self.scd2_store = str(self.work / "scd2_store")

        def source():
            return load_events_stream(spark, self.src_dir, max_files_per_trigger=1)

        def keep_latest(df, _batch_id):
            for r in df.collect():
                self.tumbling_out[(r["window_start"], r["event_type"])] = r

        def keep_all(df, _batch_id):
            self.cep_out.extend(df.collect())

        def start(job):
            ckpt = str(self.work / f"ckpt_{job}")
            if job == "tumbling":
                return (tumbling_stats_stream(source()).writeStream.outputMode("update")
                        .foreachBatch(keep_latest).option("checkpointLocation", ckpt).start())
            if job == "cep":
                return (cep_with_timeouts_stream(source(), CEP_STEPS, CEP_WITHIN)
                        .writeStream.outputMode("append").foreachBatch(keep_all)
                        .option("checkpointLocation", ckpt).start())
            return (source().writeStream
                    .foreachBatch(maintain_scd2_dim(self.scd2_store, n_buckets=SCD2_BUCKETS))
                    .option("checkpointLocation", ckpt).start())

        t0 = time.perf_counter()
        for job in STREAM_JOBS:
            self.attempted += 1
            tj = time.perf_counter()
            try:
                q = start(job)
                self.run_ids[job] = str(q.runId)
                run_to_completion(q)
                self.progress[job] = list(q.recentProgress)
            except Exception as exc:  # noqa: BLE001
                self.fail(job, exc)
            self.drain_s[job] = time.perf_counter() - tj
        return time.perf_counter() - t0

    def check_stream(self) -> None:
        from pyspark.sql import functions as F

        from flink_realtime_edu_spark.operators.cep import cep_first_match, cep_timed_out
        from flink_realtime_edu_spark.queries.temporal import state_intervals
        from flink_realtime_edu_spark.sources import load
        from flink_realtime_edu_spark.streaming.scd2 import read_scd2_intervals

        spark = self.spark
        ev = load(spark, self.data_dir, "events")
        for job in STREAM_JOBS:
            if job not in self.progress:
                continue  # already failed while running
            try:
                if job == "tumbling":
                    cols = ["window_start", "event_type", "n_events", "sum_value"]
                    got = list(self.tumbling_out.values())
                    want = self.registry["tumbling_hourly_stats"].build(
                        spark, self.data_dir).collect()
                elif job == "cep":
                    cols = ["user_id", "start_ts", "last_ts", "matched_steps", "timed_out"]
                    got = self.cep_out
                    done = cep_first_match(ev, CEP_STEPS, CEP_WITHIN).select(
                        "user_id", "start_ts", F.col("end_ts").alias("last_ts"),
                        F.lit(len(CEP_STEPS)).alias("matched_steps"),
                        F.lit(False).alias("timed_out"))
                    partial = cep_timed_out(ev, CEP_STEPS, CEP_WITHIN).select(
                        "user_id", "start_ts", F.col("last_matched_ts").alias("last_ts"),
                        "matched_steps", F.lit(True).alias("timed_out"))
                    want = done.unionByName(partial).collect()
                else:
                    cols = ["user_id", "run_id", "state", "valid_from", "n_events", "valid_to"]
                    got = read_scd2_intervals(spark, self.scd2_store).select(*cols).collect()
                    want = state_intervals(ev).select(*cols).collect()
                got = [tuple(r[c] for c in cols) for r in got]
                want = [tuple(r[c] for c in cols) for r in want]
                if job == self.args.perturb:
                    got = perturb_rows(got, len(cols))
                if rows_key(got) != rows_key(want):
                    raise AssertionError(
                        f"{job}: stream result differs from its batch reference "
                        f"({len(got)} vs {len(want)} rows)")
                dropped = self.dropped(job)
                if dropped:
                    raise AssertionError(f"{job}: {dropped} rows dropped by the watermark")
            except Exception as exc:  # noqa: BLE001
                self.fail(job, exc)

    def dropped(self, job: str) -> int:
        return sum(
            int(so.get("numRowsDroppedByWatermark") or 0)
            for p in self.progress.get(job, [])
            for so in p.get("stateOperators") or []
        )

    def stream_report(self) -> None:
        for job in STREAM_JOBS:
            prog = self.progress.get(job, [])
            trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
            rows = sum(p.get("numInputRows") or 0 for p in prog)
            self.report[f"{job}_rows_per_s"] = rows / self.drain_s[job]
            self.report[f"{job}_trigger_p50_ms"] = statistics.median(trig) if trig else 0.0
            self.report[f"{job}_triggers"] = len(trig)
            self.report[f"{job}_rows_dropped_by_watermark"] = self.dropped(job)

    # ---------------------------------------------------------- tracing
    def sources_load_s(self) -> float:
        from flink_realtime_edu_spark.sources import load

        self.spark.sparkContext.setJobGroup("perfbench:sources", "sources")
        t0 = time.perf_counter()
        for table in self.cfg["reads"]:
            load(self.spark, self.data_dir, table).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def traced_layers(self, pass_s: float, app_id: str) -> None:
        import eventlog

        groups = eventlog.fold_file(str(self.log_dir / app_id))
        none = dict.fromkeys(eventlog.FIELDS, 0)
        lay = self.layer
        pass_groups = (
            {f"{q}:{p}" for q in self.cfg["queries"] for p in ("build", "exec")}
            | set(self.run_ids.values())
        )
        tot = eventlog.total(groups, pass_groups)
        lay["sources.input_bytes"] = tot["input_bytes"]
        for k in ("jobs", "stages", "tasks", "peak_tasks", "executor_run_s", "jvm_cpu_s",
                  "shuffle_write_bytes", "spill_bytes"):
            lay[f"spark.{k}"] = tot[k]
        lay["spark.python_s"] = tot["executor_run_s"] - tot["jvm_cpu_s"]
        lay["spark.driver_s"] = pass_s - tot["job_span_s"]
        build_s = exec_s = build_jobs = 0.0
        for q in self.cfg["queries"]:
            b = groups.get(f"{q}:build", none)
            e = groups.get(f"{q}:exec", none)
            tb, te = self.op_times.get(q, (0.0, 0.0))
            lay[f"queries.build_s.{q}"] = tb
            lay[f"queries.exec_s.{q}"] = te
            lay[f"queries.build_jobs.{q}"] = b["jobs"]
            lay[f"spark.tasks.{q}"] = b["tasks"] + e["tasks"]
            lay[f"spark.python_s.{q}"] = (
                b["executor_run_s"] + e["executor_run_s"] - b["jvm_cpu_s"] - e["jvm_cpu_s"])
            build_s, exec_s, build_jobs = build_s + tb, exec_s + te, build_jobs + b["jobs"]
        lay["queries.build_s"] = build_s
        lay["queries.exec_s"] = exec_s
        lay["queries.build_jobs"] = build_jobs
        for job, prog in self.progress.items():
            g = groups.get(self.run_ids[job], none)
            trig = [p["durationMs"] for p in prog]

            def p50(phase):
                vals = [d.get(phase, 0) for d in trig]
                return statistics.median(vals) if vals else 0.0

            lay[f"streaming.{job}.rows_per_s"] = self.report[f"{job}_rows_per_s"]
            lay[f"streaming.{job}.trigger_p50_ms"] = self.report[f"{job}_trigger_p50_ms"]
            lay[f"streaming.{job}.triggers"] = len(prog)
            lay[f"streaming.{job}.add_batch_ms_p50"] = p50("addBatch")
            lay[f"streaming.{job}.query_planning_ms_p50"] = p50("queryPlanning")
            lay[f"streaming.{job}.wal_commit_ms_p50"] = p50("walCommit")
            lay[f"streaming.{job}.tasks_per_trigger"] = g["tasks"] / len(prog) if prog else 0.0
            if job in STATEFUL_JOBS:
                last = next((p["stateOperators"][0] for p in reversed(prog)
                             if p.get("stateOperators")), {})
                lay[f"streaming.{job}.state_rows"] = last.get("numRowsTotal", 0)
                lay[f"streaming.{job}.state_mem_bytes"] = last.get("memoryUsedBytes", 0)
                lay[f"streaming.{job}.state_store_instances"] = (
                    last.get("numStateStoreInstances", 0))
                lay[f"streaming.{job}.rows_dropped_by_watermark"] = self.dropped(job)
        if "scd2" in self.progress:
            store = sum(f.stat().st_size for f in Path(self.scd2_store).rglob("*")
                        if f.is_file())
            lay["streaming.scd2.store_bytes"] = store
            lay["streaming.scd2.bytes_written_per_input_byte"] = store / self.replay_bytes

    # ------------------------------------------------------------ misc
    def fail(self, op: str, exc: BaseException) -> None:
        msg = f"{type(exc).__name__}: {exc}"
        self.failures.append(f"{op}: " + " | ".join(msg.splitlines())[:600])
        print(f"perfbench: op {op} failed: {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    log_dir = prepare_environment(work, bool(args.trace))
    bench = Bench(args, work, log_dir)
    try:
        try:
            setups = [bench.set_up(i) for i in range(SETUPS)]
            stream = not bench.cfg["queries"]
            pass_s = bench.stream_pass() if stream else bench.batch_pass()
            persisted = persisted_state(bench.spark)
            if stream:
                bench.stream_report()
            if args.trace:
                bench.layer["sources.load_s"] = bench.sources_load_s()
            if stream:
                bench.check_stream()
            else:
                bench.check_batch()
            bench.layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
            bench.layer["session.persisted_rdds_end"], bench.layer[
                "session.persisted_bytes_end"] = persisted
            app_id = bench.spark.sparkContext.applicationId
        finally:
            shutdown_jvm(bench.spark)
        if args.trace:
            bench.layer["trace.cold_pass_s"] = pass_s
            bench.traced_layers(pass_s, app_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops_total": bench.attempted, "ops_failed": len(bench.failures),
        "failures": bench.failures,
        "setup_s": statistics.median(setups), "setup_samples_s": setups,
        "cold_pass_s": pass_s, **bench.report,
        "op_s": {q: sum(t) for q, t in bench.op_times.items()} or bench.drain_s,
    }
    print("perfbench-report " + json.dumps(report), flush=True)
    if args.trace:
        metrics = {name: {"value": float(bench.layer.get(name, 0.0)), "unit": unit}
                   for name, unit, _ in per_layer_names()}
    else:
        metrics = {name: {"value": float(report[name]), "unit": unit}
                   for name, unit in END_TO_END}
    return {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }


def invoke(workload: str, seed: int, trace: int, perturb: str | None = None) -> dict:
    """Run this benchmark in a child process and return its result
    object; raises if the child exits non-zero."""
    import subprocess

    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    if perturb:
        cmd += ["--perturb", perturb]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import flink_realtime_edu_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
