"""Query registry backing ``__spark_entry__.queries()`` / ``oracle_sql()``.

Each registered query is one row of SURVEY.md §2's operator
inventory: a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
plus (when ANSI-SQL-expressible) the DuckDB oracle string the driver
runs side-by-side. Queries without an oracle get the driver's weaker
rows-only check (B* rows in the inventory).

Conventions enforced here (SURVEY.md §5.2):
- every computed column is aliased identically in Spark and SQL;
- rounded floating sums and means go through the exact-decimal twins
  in ``flink_realtime_edu_spark.functions`` on BOTH sides (``dec_sum``
  / ``dec_avg`` on DataFrames, ``dec_sum_sql`` / ``dec_avg_sql`` in
  SQL text): exact decimal sum, rounded HALF_UP, then cast to DOUBLE.
  The Spark side casts per-row to decimal(18,8) (long-backed —
  ``functions._DEC``, which also carries the |x| < 1e10 equivalence
  argument) while the SQL twin stays DECIMAL(30,8);
- results are deterministic (unique tie-breakers under limits,
  arrays sorted/joined to strings).
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    survey_rows: tuple[str, ...] = ()  # SURVEY.md §2 inventory ids covered
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default=())


QUERIES: dict[str, QuerySpec] = {}

# Modules that register queries on import (one per §2 area).
_QUERY_MODULES = (
    "pricing",
    "joins",
    "aggregates",
    "windows",
    "setops",
    "scalars",
    "json_events",
    "time_semantics",
    "llm_text",
    "packing",
    "media",
    "dedup",
    "similarity",
    "udfs",
    "redaction",
    "ads",
    "subqueries",
    "tpch",
    "temporal",
    "statistics",
    "training",
    "bpe",
    "late",
    "cep",
)


def register(
    name: str,
    oracle: str | None = None,
    survey_rows: tuple[str, ...] = (),
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        # Registered builds run under the batch-analytics conf profile
        # (session.BATCH_CONFS — currently the AQE coalescing floor):
        # applied HERE, not in the shared configure(), so the
        # streaming jobs' micro-batch pipelines keep Spark's default
        # floor (the 64k batch floor measured 15-30 % slower on the
        # ingest sinks — see OPTIMIZATION_r13.md). The module-level
        # function stays unwrapped for direct callers/tests.
        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            from flink_realtime_edu_spark.session import configure_batch

            configure_batch(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(
            name=name,
            build=build,
            oracle=oracle,
            survey_rows=tuple(survey_rows),
            doc=doc or (fn.__doc__ or "").strip(),
            bench=bench,
            tags=tuple(tags),
        )
        return fn

    return deco


# Registry ordering contract: the driver's correctness gate checks the
# FIRST 50 keys of queries(), so the prefix below is curated to cover
# EVERY batch-expressible SURVEY.md §2 row with at least one
# representative (tests/test_registry_order.py pins this), and it
# ROTATES each round (VERDICT r3 item 3).
#
# r14 rotation (the K=4 staleness budget, VERDICT r8 item 8): the 31
# queries last officially sampled r10 — COVERAGE.md's recorded "r14
# rotation obligation", recomputed by scripts/coverage_report.py from
# the CORRECTNESS ledger — go FIRST; they hit the budget
# (tests/test_registry_order.py::test_staleness_budget_within_window)
# the moment CORRECTNESS_r14.json lands. The remaining 18 slots start
# the 48-query r11 cohort (binds r15) at its alphabetical head. The
# spilled r11 queries MUST rotate first in r15; the definitive spill
# list is recomputed by scripts/coverage_report.py, not this comment.
DRIVER_CHECK_WINDOW = 50
_PRIORITY_PREFIX: tuple[str, ...] = (
    "pricing_summary",            # S3 P1 P2 P5 A1 A2 A5 O1 -- entry()
    # --- last officially sampled r10 (the K=4 obligation, all 31) ---
    "doc_quality_scores",
    "doc_repetition_stats",
    "doc_trigram_perplexity",
    "doc_unigram_surprisal",
    "domain_temperature_mixture",
    "doremi_domain_weights",
    "dsir_gumbel_topk",
    "dsir_importance_weights",
    "embedding_quantization_snr",
    "error_burst_stats",
    "fingerprint_overlap_docs",
    "full_join_nation_counts",
    "funnel_click_view_purchase",
    "grouped_zscore_chars",
    "pivot_daily_activity",
    "rollup_revenue",
    "running_customer_spend",
    "semdedup_kmeans_summary",
    "semdedup_label_blocks",
    "semi_join_recent_customers",
    "sequence_packing_chunks",
    "session_window_stats",
    "star_join_revenue",
    "string_funcs_part",
    "temporal_join_purchase_state",
    "tfidf_top_terms",
    "top_parts_per_nation",
    "training_shuffle_manifest",
    "union_activity_feed",
    "user_state_intervals",
    "value_percentiles",
    # --- last officially sampled r11 (staleness refresh, 18/48) ---
    "audio_fingerprint_dups",
    "audio_metadata_stats",
    "big_volume_customers",
    "bpe_encode_stats",
    "bpe_merge_learning",
    "bpe_sequence_packing",
    "bpe_token_budget_sample",
    "cep_funnel_first_match",
    "cep_funnel_timeouts",
    "cep_no_error_funnel",
    "cep_not_next_error_pair",
    "cep_quiet_after_purchase",
    "cep_strict_error_runs",
    "customer_order_distribution",
    "disjunctive_predicate_revenue",
    "dup_cluster_canonicals",
    "dup_span_stats",
    "excess_share_suppliers",
)


def load_registry() -> dict[str, QuerySpec]:
    """Import all query modules (idempotent) and return the registry,
    ordered: the curated driver-window prefix first, then every other
    query in registration order."""
    for mod in _QUERY_MODULES:
        importlib.import_module(f"flink_realtime_edu_spark.queries.{mod}")
    missing = [n for n in _PRIORITY_PREFIX if n not in QUERIES]
    if missing:
        raise KeyError(f"priority prefix names unknown queries: {missing}")
    ordered = {name: QUERIES[name] for name in _PRIORITY_PREFIX}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in ordered)
    return ordered
