#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py            # everything (about 3 minutes on 4 cores)
    python3 perfbench/selftest.py --quick    # skip the Spark-backed parts

1. The replay files concatenate back to ``events`` exactly, keep the
   footer's ``ts`` shape, and ``ts`` never decreases across files;
   BENCHMARK.json names exactly the metrics ``run.py`` prints.
2. The event-log fold on synthetic lines (task concurrency, job-span
   union, group attribution).
3. The fold on a log recorded from one sf0.001 query, cross-checked
   against Spark's own status tracker.
4. A perturbed result raises ``failed``: one batch query and one stream
   job are corrupted before their check (``run.py --perturb``).

Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402


def check_replay(work: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, str(ROOT))
    from flink_realtime_edu_spark.sources import TS_SHAPE_NTZ_MICROS, sniff_events_ts_shape

    for seed in (1, 2, 3):
        events = datagen.make_tables("sf0.01", seed, ["events"])["events"]
        src = work / f"replay-{seed}"
        files = datagen.write_replay(events, str(src), 3, seed)
        parts = [pq.read_table(f) for f in files]
        assert [os.path.getmtime(f) for f in files] == sorted(
            os.path.getmtime(f) for f in files), "replay order != listing order"
        for f in files:
            assert sniff_events_ts_shape(f) == TS_SHAPE_NTZ_MICROS, f
            assert pq.read_schema(f).field("ts").type == events.schema.field("ts").type
        whole = pa.concat_tables(parts)
        sentinel = whole.slice(whole.num_rows - 1)
        assert whole.slice(0, whole.num_rows - 1).equals(events), "replay != events"
        assert sentinel.column("user_id")[0].as_py() == datagen.SENTINEL_USER
        ts = [p.column("ts").cast(pa.int64()).to_pylist() for p in parts]
        for a, b in zip(ts, ts[1:]):
            assert max(a) < min(b), "ts decreases (or ties) across a file boundary"
        flat = [t for p in ts for t in p]
        assert flat == sorted(flat), "ts decreases inside the replay"
        cuts = datagen.replay_cuts(events, 3, seed)
        assert cuts == datagen.replay_cuts(events, 3, seed)
    a = datagen.replay_cuts(datagen.make_tables("sf0.01", 1, ["events"])["events"], 3, 1)
    b = datagen.replay_cuts(datagen.make_tables("sf0.01", 2, ["events"])["events"], 3, 2)
    assert a != b, "the seed does not move the file boundaries"
    print("ok replay: 3 seeds, files == events, ts ordered across files")


def check_benchmark_json() -> None:
    """BENCHMARK.json lists exactly the metrics run.py prints."""
    import run as bench_run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(bench_run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == (
        bench_run.per_layer_names())
    assert [w["name"] for w in spec["workloads"]] == list(bench_run.MEASURED)
    from flink_realtime_edu_spark.queries import load_registry

    headline = {n for n, q in load_registry().items() if q.bench}
    assert headline - set(bench_run.BATCH_HEADLINE) == set(bench_run.DEC_SUM_TIES), headline
    print(f"ok BENCHMARK.json: {len(spec['per_layer'])} per-layer metrics match run.py")


def check_fold_synthetic() -> None:
    def ev(**kw):
        return json.dumps(kw)

    lines = [
        ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
           "Stage IDs": [0, 1], "Properties": {eventlog.GROUP_PROPERTY: "q:build"}}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1500,
           "Stage IDs": [2], "Properties": {eventlog.GROUP_PROPERTY: "q:build"}}),
    ]
    for tid, (stage, a, b) in enumerate([(0, 1000, 1400), (1, 1100, 1300), (2, 1200, 1900)]):
        lines.append(ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": stage,
            "Task Info": {"Task ID": tid, "Launch Time": a, "Finish Time": b},
            "Task Metrics": {"Executor Run Time": b - a, "Executor CPU Time": 10**8,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                             "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                             "Input Metrics": {"Bytes Read": 5}}}))
    lines += [
        ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1600}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2000}),
    ]
    g = eventlog.fold(lines)["q:build"]
    assert g["jobs"] == 2 and g["tasks"] == 3 and g["stages"] == 1, g
    assert g["peak_tasks"] == 3, g
    assert abs(g["job_span_s"] - 1.0) < 1e-9, g  # [1000,1600] U [1500,2000]
    assert abs(g["executor_run_s"] - 1.3) < 1e-9 and abs(g["jvm_cpu_s"] - 0.3) < 1e-9, g
    assert g["shuffle_write_bytes"] == 21 and g["spill_bytes"] == 9 and g["input_bytes"] == 15
    print("ok fold: synthetic log")


def check_fold_recorded(work: Path) -> None:
    """Record one sf0.001 query's event log and compare the fold with
    the status tracker of the same application."""
    log_dir = work / "eventlog"
    log_dir.mkdir()
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
        "pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = None
    import run as bench_run
    from flink_realtime_edu_spark.queries import load_registry
    from flink_realtime_edu_spark.session import get_spark

    data = work / "sf0.001"
    datagen.write_tables(str(data), "sf0.001", 1, bench_run.ALL_TABLES)
    spark = get_spark(app_name="perfbench-selftest")
    try:
        sc = spark.sparkContext
        q = "top_parts_per_nation"
        sc.setJobGroup(f"{q}:build", q)
        df = load_registry()[q].build(spark, str(data))
        sc.setJobGroup(f"{q}:exec", q)
        df.collect()
        tracker = sc.statusTracker()
        want = {}
        for phase in ("build", "exec"):
            jobs = tracker.getJobIdsForGroup(f"{q}:{phase}")
            stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
            infos = [tracker.getStageInfo(s) for s in stages]
            want[phase] = (len(jobs), sum(i.numCompletedTasks for i in infos if i))
        app_id = sc.applicationId
    finally:
        bench_run.shutdown_jvm(spark)
    groups = eventlog.fold_file(str(log_dir / app_id))
    for phase, (n_jobs, n_tasks) in want.items():
        g = groups.get(f"{q}:{phase}", dict.fromkeys(eventlog.FIELDS, 0))
        assert (g["jobs"], g["tasks"]) == (n_jobs, n_tasks), (phase, g, n_jobs, n_tasks)
        assert g["executor_run_s"] >= 0 and g["jvm_cpu_s"] >= 0
    assert groups[f"{q}:exec"]["jobs"] >= 1 and groups[f"{q}:exec"]["tasks"] >= 1
    print(f"ok fold: recorded {q} at sf0.001, jobs/tasks per phase = {want}")


def check_perturbed(workload: str, op: str) -> None:
    """A corrupted result must be reported as a failed op."""
    from run import invoke

    clean, bad = invoke(workload, 1, 0), invoke(workload, 1, 0, perturb=op)
    assert bad["failed"] == clean["failed"] + 1 and not bad["correct"], (clean, bad)
    print(f"ok perturbed: {workload}/{op} failed {clean['failed']} -> {bad['failed']}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true", help="skip the Spark-backed checks")
    args = ap.parse_args()
    work = ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        check_replay(work)
        check_benchmark_json()
        check_fold_synthetic()
        if not args.quick:
            check_fold_recorded(work)
            check_perturbed("batch_headline", "session_window_stats")
            check_perturbed("stream_replay", "cep")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
