#!/usr/bin/env python
"""Dump `explain("formatted")` snapshots for every registered query
into plans/<name>.txt (SURVEY.md §3.3: one explain per implemented
query so the intended physical strategy — broadcast joins, partial
aggs, pushed filters, pruned schemas — is reviewable in the repo).

Usage: python scripts/dump_plans.py [query ...] — with names, only
those snapshots regenerate (the add-one-query workflow; the
every-key-has-a-snapshot invariant is pinned by
tests/test_plans.py::test_every_registered_query_has_a_plan_snapshot,
so a new query without a snapshot fails the suite, not the next
verdict)."""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    from flink_realtime_edu_spark.queries import load_registry
    from flink_realtime_edu_spark.session import get_spark

    out_dir = REPO / "plans"
    out_dir.mkdir(exist_ok=True)
    registry = load_registry()
    only = sys.argv[1:]
    if only:
        unknown = [n for n in only if n not in registry]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        registry = {n: registry[n] for n in only}
    # Pinned so every exchange line reads the same on any box; the
    # session default follows the cores.
    spark = get_spark(app_name="fres-plans", shuffle_partitions=32)
    for name, spec in sorted(registry.items()):
        df = spec.build(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # Normalize run-dependent ids (expression #N, plan_id=N, cached
        # RDD numbers) so regenerating the snapshots only diffs when the
        # PLAN changes, not every run.
        plan = re.sub(r"#\d+", "#N", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
        plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
        # A fitted model folded into the plan as one array literal
        # (the quality classifier's 4097 weights) prints every value;
        # keep its length, not the weights, so the snapshot stays
        # readable and diffs only when the plan's shape changes.
        plan = re.sub(
            r"\[-?\d+(?:,-?\d+){63,}\]",
            lambda m: f"[{m.group().count(',') + 1} ints]",
            plan,
        )
        header = (
            f"-- query: {name}\n"
            f"-- survey rows: {', '.join(spec.survey_rows) or 'n/a'}\n"
            f"-- oracle: {'duckdb' if spec.oracle else 'rows-only'}\n\n"
        )
        (out_dir / f"{name}.txt").write_text(header + plan)
        print(name)
    spark.stop()


if __name__ == "__main__":
    main()
