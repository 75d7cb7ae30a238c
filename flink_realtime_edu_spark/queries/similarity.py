"""Similarity search queries — SURVEY.md §2.10 X6.

Brute-force cosine top-k is oracle-checked against DuckDB's
list_dot_product on DOUBLE[] (both engines accumulate the 64-dim dot
product sequentially in double → bit-identical scores; scores are
rounded to 6dp BEFORE ranking with a neighbor-id tie-break so the
selected top-k sets agree exactly). The LSH variant is the 100 TB
path → rows-only here, recall-tested in tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_avg, dec_avg_sql, dec_sum
from flink_realtime_edu_spark.operators.quantization import (
    pq_adc_topk,
    pq_fit_sample,
)
from flink_realtime_edu_spark.operators.similarity import (
    ann_recall_summary,
    cosine_topk,
    embedding_near_duplicates,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load

_N_QUERIES = 10
_K = 5

_COS = (
    "list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)


@register(
    "cosine_topk_bruteforce",
    survey_rows=("X6", "W1", "J7"),
    bench=True,
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {_N_QUERIES}),
c AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT qid, nid, ROUND({_COS}, 6) AS cos
  FROM c, q WHERE nid <> qid)
SELECT qid, nid, cos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
  FROM scored) t
WHERE rn <= {_K}
""",
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 10.
    Queries broadcast; corpus scanned once; dot products via
    zip_with/aggregate higher-order functions (JVM, casts float→
    double element-wise exactly like the oracle's DOUBLE[] cast).

    CONTRACT: the query set must be driver-sized (|Q| ≪ corpus —
    it is collected and broadcast, and every corpus row scores all
    |Q| queries). For corpus-scale query sets use the LSH
    (ann_lsh_topk) or IVF (ivf_ann_topk) paths, which bucket BOTH
    sides instead of broadcasting one."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk(emb, queries, k=_K)


_ANN_ORACLE = f"""
SELECT COUNT(*) AS n_queries, 5 AS k,
       TRUE AS all_queries_answered, TRUE AS mean_recall_ok
FROM embeddings WHERE vec_id < {_N_QUERIES}
"""


@register("ivf_ann_topk", survey_rows=("X6",), oracle=_ANN_ORACLE)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate neighbors (16-cluster k-means quantizer fit
    on the 4096-row learning sample, 4-probe) — the second ANN scale
    path next to LSH.

    Tolerance oracle (upgraded from rows-only in r4, same pattern as
    the A4 sketches): raw neighbor sets are index-specific, so the
    query computes recall@5 against the exact brute-force top-k
    in-Spark and emits booleans with thresholds far under the
    measured floor (mean recall 0.86/0.88/0.92 at sf0.001/0.01/0.1;
    threshold 0.35) — deterministically TRUE on the deterministic
    index unless the operator breaks. The figures flatter the index:
    the quantizer's init rows (the first 16 ids) include all 10 query
    vectors. Exact recall curves are additionally pinned in
    tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = ivf_cosine_topk(emb, queries, k=_K)
    exact = cosine_topk(emb, queries, k=_K)
    return ann_recall_summary(ann, exact, queries, k=_K, min_mean_recall=0.35)


@register("ivf_ann_incremental_topk", survey_rows=("X6",), oracle=_ANN_ORACLE)
def ivf_ann_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE path: the quantizer is fit on a 90% base
    corpus only, the remaining 10% 'newly-arrived' vectors are
    APPENDED by assigning them to the existing centroids (O(delta),
    one vectorized pandas-UDF pass — the FAISS `add` discipline), and
    search runs over the union. A growing corpus pays per-batch
    append cost instead of per-batch index rebuilds.

    Same tolerance-summary oracle as ivf_ann_topk: recall@5 vs exact
    brute force over the FULL corpus, threshold 0.35 — far under the
    measured mean recall 0.90/0.78/0.86 at sf0.001/0.01/0.1 with the
    base-only quantizer (same init caveat as ivf_ann_topk), so
    deterministically TRUE unless the append path mis-assigns or
    drops vectors."""
    from flink_realtime_edu_spark.operators.similarity import (
        ivf_incremental_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = ivf_incremental_topk(base, delta, queries, k=_K)
    exact = cosine_topk(emb, queries, k=_K)
    return ann_recall_summary(ann, exact, queries, k=_K, min_mean_recall=0.35)


_PAIR_COS = (
    "list_dot_product(a.e, b.e) / "
    "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
)


@register(
    "near_dup_embeddings",
    survey_rows=("X5", "X6"),
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_PAIR_COS}, 6) AS cos
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND({_PAIR_COS}, 6) >= 0.95
""",
)
def near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at cos ≥ 0.95.

    Oracle (semantic, like near_dup_minhash's): DuckDB computes the
    exact all-pairs cos ≥ 0.95 set — empty on this synthetic corpus
    (random 64-dim vectors top out near 0.5), and the LSH pipeline's
    exact-cosine verify stage makes false positives impossible, so
    both sides agree (verified; deterministic data + seeded
    hyperplanes ⇒ stable). Recall on real near-identical vectors is
    pinned on constructed duplicates in tests/test_operators.py. The
    oracle's O(n²) cross join is for the sf0.01 gate only — the whole
    point of the LSH side is never materializing it at scale."""
    return embedding_near_duplicates(
        load(spark, sf_dir, "embeddings"), threshold=0.95
    ).orderBy("id_a", "id_b")


_SD_COS = (
    "list_dot_product(a.e, b.e) / "
    "(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
)
_SD_THRESHOLD = 0.35


@register(
    "semdedup_label_blocks",
    survey_rows=("X5", "X6", "J7"),
    oracle=f"""
WITH RECURSIVE v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), p AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND({_SD_COS}, 6) >= {_SD_THRESHOLD}
), edges AS (
  SELECT ida AS src, idb AS dst FROM p UNION SELECT idb, ida FROM p
), reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
), comp AS (
  SELECT node, MIN(lab) AS cluster FROM reach GROUP BY 1
)
SELECT v.vec_id, v.label AS block,
       COALESCE(comp.cluster, v.vec_id) AS sem_cluster,
       (v.vec_id = COALESCE(comp.cluster, v.vec_id)) AS keep
FROM v LEFT JOIN comp ON comp.node = v.vec_id
""",
)
def semdedup_label_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic pruning (Abbas et al. 2023) over the
    embeddings, blocked by `label` — the deterministic stand-in for
    the paper's k-means cluster assignment (which is iterative, hence
    not SQL-replayable; the k-means contract itself is oracled via
    kmeans_quality_summary, and `operators.similarity.semantic_dedup`
    takes ANY block column, so wiring `kmeans_fit`'s cluster id in
    production is a one-line change). Within-block pairs at rounded
    cos ≥ 0.35 (chosen to be NONEMPTY on this corpus — random 64-dim
    vectors top out near 0.47 within labels, so the threshold
    exercises the component/keep logic instead of vacuously passing
    an empty graph) chain into semantic components; one survivor per
    component keeps `keep = true`.

    Oracle: exact — DuckDB replays the within-block pairs with the
    identical sequential-fold cosine, closes the duplicate graph with
    a recursive CTE (the media_dup_canonicals pattern), and re-derives
    min-id survivors. Scale: quadratic only within blocks (bounded by
    construction — the SemDeDup recipe), linear across; components
    via hash-min label propagation, singletons never enter the
    graph."""
    from flink_realtime_edu_spark.operators.similarity import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, block_col="label", threshold=_SD_THRESHOLD)


@register("pq_ann_topk", survey_rows=("X6",), oracle=_ANN_ORACLE)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (m=16 subspaces × 256-entry codebooks
    = 16 bytes/vector, 16× compression) with ADC scoring and a
    top-30 exact-cosine rerank — the compressed-domain scale path
    next to LSH and IVF (operators/quantization.py; Jégou et al.,
    TPAMI 2011). Codebooks train on a deterministic 4096-row sample
    (the FAISS practice — no extra corpus scans); the corpus scan
    reads codes, not floats, and the rerank join is shortlist-sized.

    Tolerance oracle (same contract as ivf/lsh): recall@5 vs the
    exact brute-force top-k, folded to booleans. Measured floor with
    the rerank: 0.99–1.0 across sf0.001–0.1; threshold 0.7 — TRUE
    unless the quantizer or the rerank breaks. Exact recall floors
    pinned in tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    codebooks = pq_fit_sample(emb, m=16, k=256)
    ann = pq_adc_topk(emb, queries, codebooks, k=_K, rerank_r=30)
    exact = cosine_topk(emb, queries, k=_K)
    return ann_recall_summary(ann, exact, queries, k=_K, min_mean_recall=0.7)


@register("ivfpq_ann_topk", survey_rows=("X6",), oracle=_ANN_ORACLE)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ ANN — the composed billion-vector shape (FAISS
    IndexIVFPQ; VERDICT r10 item 4): the 16-cluster IVF coarse
    quantizer prunes the scan to each query's 4 probed lists, PQ ADC
    (m=16 × 256 codes) scores codes inside those lists to a top-30
    shortlist, and exact cosine re-ranks to 5
    (operators/quantization.py::ivfpq_topk). Composed recall is
    bounded by the IVF probe (the true neighbor must live in a probed
    list), so it tracks ivf_ann_topk's floor, while the scan touches
    ~n_probe/n_clusters of the corpus AND reads 16-byte codes instead
    of 256-byte floats — the multiplicative win that makes 10⁹
    vectors scannable.

    Tolerance oracle (same contract as ivf/lsh/pq): recall@5 vs exact
    brute force, folded to booleans. Measured floor: 0.86/0.88/0.90
    at sf0.001/0.01/0.1 (same init caveat as ivf_ann_topk) — within
    0.02 of IVF-Flat, i.e. the ADC+rerank stage loses almost nothing;
    threshold 0.3. Exact floors pinned in tests/test_operators.py.

    r12: codes at REST (VERDICT r11 item 2) — the index is encoded
    ONCE by pq_encode_index before search; the ADC scan reads stored
    m-byte codes (no per-query re-encode), and floats are fetched
    only for the top-30 shortlist rerank, keyed by nid. Identical
    codes → identical scores → value-identical results to the r11
    encode-in-scan form."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_encode_index,
    )
    from flink_realtime_edu_spark.operators.similarity import _ivf_fit_assign
    from flink_realtime_edu_spark.session import materialize as _materialize

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    assigned, centers = _ivf_fit_assign(emb, "vec_id", "embedding", 16)
    codebooks = pq_fit_sample(emb, m=16, k=256)
    # The build-in-query index has THREE consumers inside ivfpq_topk
    # (the codes-at-rest dispatch probe, the ADC scan, the rerank's
    # float fetch) and AQE does not stage-reuse duplicated subtrees —
    # unmaterialized, the IVF-assign + PQ-encode pipeline executed
    # once per consumer (r14; the persisted-store query needs no pin:
    # its consumers read parquet at rest).
    indexed = _materialize(pq_encode_index(assigned, codebooks))
    ann = ivfpq_topk(
        indexed, centers, queries, codebooks, k=_K, n_probe=4, rerank_r=30
    )
    exact = cosine_topk(emb, queries, k=_K)
    return ann_recall_summary(ann, exact, queries, k=_K, min_mean_recall=0.3)


_IVFPQ_STORE_VERSION = 2  # bump when the store layout/params change


def _ivfpq_store_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Build-if-missing PER-PROCESS persisted IVF×PQ store for
    ``sf_dir`` — (quantizer_dir, index_dir, codebooks_dir) under the
    system temp root, keyed by (application id, sf_dir, version).

    The application id in the key is the no-cross-run-caching
    guarantee (r13 optimization-round contract): every fresh
    bench/oracle process pays one full rebuild from the parquet
    inputs — nothing persisted under a previous run's key is ever
    served — while repeated builds INSIDE one process (the bench's
    warmup + timed passes) reuse the store, which is exactly the
    warm-search shape this query exists to measure (VERDICT r12
    item 2). The build IS streaming/annindex.rebuild_ivf_index
    (sample-fit quantizer and codebooks → cluster-bucketed
    codes-at-rest parquet), so the store is bit-deterministic: a cold
    build and a warm reuse serve identical results, which is what
    lets a process-cached store back an oracle-checked query.
    Crash-safe by build-then-rename: the store only appears at its
    final path complete (the `_COMPLETE` marker rides inside the
    renamed dir)."""
    import hashlib
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from flink_realtime_edu_spark.streaming.annindex import rebuild_ivf_index

    app_id = spark.sparkContext.applicationId
    tag = hashlib.md5(
        f"{app_id}|{sf_dir}|v{_IVFPQ_STORE_VERSION}".encode()
    ).hexdigest()[:12]
    root = (
        Path(tempfile.gettempdir())
        / "flink_realtime_edu_spark"
        / f"ivfpq_store_{tag}"
    )
    if not (root / "_COMPLETE").exists():
        import atexit
        import time

        # Opportunistic reap of STALE sibling stores (ADVICE r13): the
        # atexit hook below only covers a clean exit, so a SIGKILLed
        # run leaks its dir — and app-id keys are never reused, so
        # leaks would accumulate forever. Any sibling older than 6h
        # cannot belong to a live bench/oracle process on this box.
        cutoff = time.time() - 6 * 3600
        for sib in root.parent.glob("ivfpq_store_*"):
            try:
                if sib != root and sib.stat().st_mtime < cutoff:
                    shutil.rmtree(sib, ignore_errors=True)
            except OSError:
                pass

        build = root.with_name(root.name + ".build")
        shutil.rmtree(build, ignore_errors=True)
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        rebuild_ivf_index(
            emb,
            str(build / "quantizer"),
            str(build / "index"),
            codebooks_dir=str(build / "codebooks"),
        )
        (build / "_COMPLETE").touch()
        shutil.rmtree(root, ignore_errors=True)
        build.rename(root)
        # Per-process stores would otherwise accumulate one dir per
        # (process, sf) under /tmp; reap ours on interpreter exit.
        atexit.register(shutil.rmtree, str(root), ignore_errors=True)
    else:
        # Reads never refresh a dir's mtime: touch it on every reuse
        # so a session alive past the 6 h cutoff above is never
        # reaped mid-scan by a sibling process's build.
        os.utime(root)
    return (
        str(root / "quantizer"),
        str(root / "index"),
        str(root / "codebooks"),
    )


@register("ivfpq_persisted_ann_topk", survey_rows=("X6",), oracle=_ANN_ORACLE)
def ivfpq_persisted_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ search over a PERSISTED codes-at-rest index — the
    latency-critical shape a real user runs (VERDICT r12 item 2):
    ivfpq_ann_topk builds its index inside the query (the right
    oracle for build semantics, but at sf1 the one-shot encode
    dominates its wall), while THIS query searches a pre-built store
    — build-if-missing via rebuild_ivf_index into a cached temp
    store (_ivfpq_store_dirs), then a hot path that is ONLY
    read-index → partition-pruned (nid, cluster, code) ADC scan →
    shortlist rerank. The warm/cold split is measured in BASELINE.md
    r12: 3.03 s warm vs 10.1 s build-in-query at sf1 (3.3× — the
    codes A/B), which is exactly the gap this query exists to keep
    under the driver's official sample.

    Deterministic across cold/warm runs (deterministic rebuild ⇒
    identical store ⇒ identical results), so the cache is
    oracle-safe. Same index parameters and recall contract as
    ivfpq_ann_topk (16-cluster IVF, m=16 × 256 codes, 4-probe,
    top-30 rerank; measured mean recall 0.86/0.88/0.90 at
    sf0.001/0.01/0.1; threshold 0.3); the codes-only ReadSchema +
    cluster partition pruning on the hot scan are pinned in
    tests/test_plans.py."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        probed_clusters,
    )
    from flink_realtime_edu_spark.streaming.annindex import (
        read_ivf_index,
        read_ivf_quantizer,
        read_pq_codebooks,
    )

    quant_dir, index_dir, cb_dir = _ivfpq_store_dirs(spark, sf_dir)
    centers = read_ivf_quantizer(spark, quant_dir)
    codebooks = read_pq_codebooks(spark, cb_dir)
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    # file pruning BEFORE the scan plans: the probe union selects the
    # bucket dirs to list (rows from co-bucketed other clusters are
    # removed by ivfpq_topk's own cluster filter)
    idx = read_ivf_index(
        spark, index_dir, clusters=probed_clusters(queries, centers)
    )
    ann = ivfpq_topk(
        idx, centers, queries, codebooks, k=_K, n_probe=4, rerank_r=30
    )
    exact = cosine_topk(emb, queries, k=_K)
    return ann_recall_summary(ann, exact, queries, k=_K, min_mean_recall=0.3)


@register("ivfpq_residual_ann_topk", survey_rows=("X6",), oracle=_ANN_ORACLE)
def ivfpq_residual_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ with RESIDUAL encoding (VERDICT r11 item 3; Jégou et
    al. 2011 §V — what FAISS IndexIVFPQ actually stores): codes
    quantize x̂ − ĉ_cluster instead of the raw unit vector, and ADC
    adds the per-(query, cluster) bias <q̂, ĉ_i>. Within-cluster
    residuals concentrate near zero, so the same m=16 × 256 codes
    spend their resolution on a tighter cloud — sharper ADC at zero
    extra scan bytes (the bias is a driver-side (nq × C) matrix, not
    per-cluster LUTs). Codes at rest like ivfpq_ann_topk: encode once
    (pq_encode_index with centers_norm), scan reads only codes,
    floats only for the shortlist rerank.

    Tolerance oracle: same recall@5 contract. Measured mean recall
    0.86/0.88/0.92 at sf0.001/0.01/0.1 post-rerank, same init caveat
    as ivf_ann_topk (raw encoding: 0.86/0.88/0.90 — parity; recall
    is probe-bounded and the exact rerank recovers the rest). The
    honest A/B: ADC-ONLY (rerank off) residual measures
    0.70/0.64/0.62 vs raw 0.72/0.76/0.66 — on this near-uniform
    synthetic corpus, k=256 codes over 4-dim subspaces
    already quantize unit vectors finely, so residual encoding buys
    nothing and its extra moving parts cost a little (full table in
    BASELINE.md). Raw therefore stays the DEFAULT encoding;
    residual ships behind the centers_norm flag, semantics pinned
    here and in tests. Threshold 0.3."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_encode_index,
        pq_fit_sample_residual,
    )
    from flink_realtime_edu_spark.operators.similarity import _ivf_fit_assign
    from flink_realtime_edu_spark.session import materialize as _materialize

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    assigned, centers = _ivf_fit_assign(emb, "vec_id", "embedding", 16)
    codebooks, centers_norm = pq_fit_sample_residual(emb, centers, m=16, k=256)
    # same three-consumer pin as ivfpq_ann_topk (probe/scan/rerank)
    indexed = _materialize(
        pq_encode_index(assigned, codebooks, centers_norm=centers_norm)
    )
    ann = ivfpq_topk(
        indexed, centers, queries, codebooks,
        k=_K, n_probe=4, rerank_r=30, centers_norm=centers_norm,
    )
    exact = cosine_topk(emb, queries, k=_K)
    return ann_recall_summary(ann, exact, queries, k=_K, min_mean_recall=0.3)


@register(
    "knn_graph_sampled_recall",
    survey_rows=("X6", "A1", "W1"),
    oracle=f"""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_nodes,
       CAST({_N_QUERIES} AS BIGINT) AS n_sample_queries,
       {_K} AS k,
       TRUE AS full_degree_share_ok,
       TRUE AS all_sample_answered,
       TRUE AS sampled_recall_ok
""",
)
def knn_graph_sampled_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-NN GRAPH over the whole embedding corpus
    (operators/similarity.py::knn_graph_lsh — r12): top-5 neighbors
    for EVERY vector with no driver-side query collect, the
    corpus-scale-query-set path the max_queries guards on the
    probe-collect scorers point at, and the input shape graph-based
    dedup / clustering consume. The summary row folds the graph to
    deterministic oracle-assertable facts (the ann_recall_summary
    discipline): exact node count; full_degree_share_ok — the share
    of nodes with all k edges (measured 1.0 at sf0.001/0.01/0.1:
    every node finds ≥5 bucket-mates under 8 tables × 4 planes;
    threshold 0.9 — isolated/under-covered nodes are possible by
    construction and counted, not assumed away); and recall@5 on the
    deterministic vec_id < 10 sample vs the exact in-Spark top-k
    (measured 0.64–0.72 across sf0.001–0.1, the ann_lsh_topk floor,
    as it must be — same buckets, same ranking; threshold 0.35)."""
    from flink_realtime_edu_spark.operators.similarity import knn_graph_lsh
    from flink_realtime_edu_spark.session import materialize as _materialize

    emb = load(spark, sf_dir, "embeddings")
    # the graph feeds BOTH summary arms (full-degree coverage and the
    # sampled-recall join); materialized so the bucket self-join +
    # scoring + top-k window run once, not per consumer (ADVICE r12)
    graph = _materialize(knn_graph_lsh(emb, k=_K))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = graph.filter(F.col("src") < _N_QUERIES).select(
        F.col("src").alias("qid"), F.col("dst").alias("nid")
    )
    exact = cosine_topk(emb, queries, k=_K)
    sample_summary = ann_recall_summary(
        ann, exact, queries, k=_K, min_mean_recall=0.35
    ).select(
        F.col("n_queries").alias("n_sample_queries"),
        F.col("all_queries_answered").alias("all_sample_answered"),
        F.col("mean_recall_ok").alias("sampled_recall_ok"),
    )
    n_nodes = emb.select(F.count(F.lit(1)).alias("n_nodes"))
    full_deg = (
        graph.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(
            F.sum(F.when(F.col("deg") == _K, 1).otherwise(0))
            .cast("double")
            .alias("n_full")
        )
    )
    cov = n_nodes.crossJoin(full_deg).select(
        "n_nodes",
        (F.col("n_full") / F.col("n_nodes") >= 0.9).alias(
            "full_degree_share_ok"
        ),
    )
    return cov.crossJoin(sample_summary).select(
        "n_nodes",
        "n_sample_queries",
        F.lit(_K).alias("k"),
        "full_degree_share_ok",
        "all_sample_answered",
        "sampled_recall_ok",
    )


@register(
    "knn_graph_refined_recall",
    survey_rows=("X6", "A1", "W1"),
    oracle=f"""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_nodes,
       CAST({_N_QUERIES} AS BIGINT) AS n_sample_queries,
       {_K} AS k,
       TRUE AS refined_covers_sample,
       TRUE AS refined_recall_ok,
       TRUE AS refined_ge_base
""",
)
def knn_graph_refined_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-DESCENT round over the distributed k-NN graph
    (operators/similarity.py::knn_graph_refine — Dong et al., WWW
    2011): every node re-ranks its current neighbors plus its 2-hop
    candidates over the symmetrized edge set, candidates bounded at
    (2k)² + 2k per node by construction. The summary folds to
    oracle-assertable facts (the knn_graph_sampled_recall
    discipline): exact node count; the vec_id < 10 sample fully
    answered after refinement; refined sampled recall@5 over the
    exact in-Spark top-k above the 0.35 floor (measured 0.72 at
    sf0.01 vs the base graph's 0.64; at native sf1 the round lifts
    the capped graph 0.42 → 0.54 — BASELINE.md r13); and the
    MONOTONICITY contract refined ≥ base per query (guaranteed by
    construction — top-k over a superset under the exact comparator
    — so FALSE here means the refine comparator drifted from the
    ranking comparator).

    Scale: one 16-byte edge self-join + two id-keyed joins sized by
    the ≤ n·(2k)² candidate set + one top-k window — linear in n
    with a k²-sized constant; no driver-side collect."""
    from flink_realtime_edu_spark.operators.similarity import (
        knn_graph_lsh,
        knn_graph_refine,
    )
    from flink_realtime_edu_spark.session import materialize as _materialize

    emb = load(spark, sf_dir, "embeddings")
    base = _materialize(knn_graph_lsh(emb, k=_K))
    refined = _materialize(knn_graph_refine(base, emb, k=_K))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = cosine_topk(emb, queries, k=_K)

    def sample_recall(g: DataFrame) -> DataFrame:
        ann = g.filter(F.col("src") < _N_QUERIES).select(
            F.col("src").alias("qid"), F.col("dst").alias("nid")
        )
        hit = ann.join(
            exact.select("qid", "nid"), on=["qid", "nid"], how="left_semi"
        )
        return (
            queries.select(F.col("vec_id").alias("qid"))
            .join(
                ann.groupBy("qid").agg(F.count(F.lit(1)).alias("n_ans")),
                "qid",
                "left",
            )
            .join(
                hit.groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit")),
                "qid",
                "left",
            )
            .select(
                "qid",
                F.coalesce(F.col("n_ans"), F.lit(0)).alias("n_ans"),
                (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(_K))).alias(
                    "recall"
                ),
            )
        )

    rb = sample_recall(base).select(
        F.col("qid"), F.col("recall").alias("recall_base")
    )
    rr = sample_recall(refined)
    both = rr.join(rb, "qid")
    n_nodes = emb.select(F.count(F.lit(1)).alias("n_nodes"))
    summary = both.agg(
        F.count(F.lit(1)).alias("n_sample_queries"),
        F.lit(_K).alias("k"),
        (F.min("n_ans") >= F.lit(_K)).alias("refined_covers_sample"),
        (F.avg("recall") >= F.lit(0.35)).alias("refined_recall_ok"),
        (
            F.min(F.col("recall") - F.col("recall_base")) >= F.lit(0.0)
        ).alias("refined_ge_base"),
    )
    return n_nodes.crossJoin(summary).select(
        "n_nodes",
        "n_sample_queries",
        "k",
        "refined_covers_sample",
        "refined_recall_ok",
        "refined_ge_base",
    )


@register("ann_lsh_topk", survey_rows=("X6",), oracle=_ANN_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbors via random-hyperplane LSH (8 tables ×
    4 planes, seed 42) + exact re-rank inside buckets — the scale
    path that replaces the O(n·|Q|) scan with bucket-local candidate
    sets.

    Tolerance oracle (upgraded from rows-only in r4): recall@5 vs the
    exact brute-force top-k computed in-Spark, folded to booleans
    (measured mean recall 0.64–0.66 across sf0.001–0.1; threshold
    0.35) — see ann_recall_summary."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = lsh_cosine_topk(emb, queries, k=_K)
    exact = cosine_topk(emb, queries, k=_K)
    return ann_recall_summary(ann, exact, queries, k=_K, min_mean_recall=0.35)


@register(
    "label_homophily_check",
    survey_rows=("X6", "J1"),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < {_N_QUERIES}),
c AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv, label AS nlabel
  FROM embeddings),
scored AS (
  SELECT qid, nid, qlabel, nlabel, ROUND({_COS}, 6) AS cos
  FROM c, q WHERE nid <> qid),
top AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
    FROM scored) t
  WHERE rn <= {_K})
SELECT qid, CAST(SUM(CASE WHEN qlabel = nlabel THEN 1 ELSE 0 END) AS BIGINT) AS same_label_neighbors
FROM top GROUP BY qid
""",
)
def label_homophily_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanity metric from FIXTURES.md: neighbors share labels more
    often than chance. Counts same-label neighbors among each query's
    top-5 (joins the top-k back to the label dimension)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    top = cosine_topk(emb, queries, k=_K)
    labels = emb.select("vec_id", "label")
    joined = (
        top.join(
            F.broadcast(labels.withColumnsRenamed({"vec_id": "qid", "label": "qlabel"})),
            on="qid",
        )
        .join(
            F.broadcast(labels.withColumnsRenamed({"vec_id": "nid", "label": "nlabel"})),
            on="nid",
        )
    )
    return joined.groupBy("qid").agg(
        F.sum(F.when(F.col("qlabel") == F.col("nlabel"), 1).otherwise(0))
        .cast("bigint")
        .alias("same_label_neighbors")
    )


# --------------------------------------------------------------------------
# X6 — per-label centroid (the vector aggregate behind IVF / k-means)
# --------------------------------------------------------------------------
@register(
    "label_centroids",
    survey_rows=("X6", "A1", "F5"),
    oracle=f"""
SELECT label, dim,
  {dec_avg_sql('v')} AS centroid,
  COUNT(*) AS n_vectors
FROM (SELECT label,
             UNNEST(CAST(embedding AS DOUBLE[])) AS v,
             UNNEST(range(1, len(embedding) + 1)) AS dim
      FROM embeddings) x
GROUP BY label, dim
""",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label, long-form (label, dim, centroid) —
    the vector aggregate at the heart of IVF training / k-means
    assignment steps (operators/similarity.py uses the same shape to
    fit coarse quantizers). posexplode widens n×64 rows, then one
    hash aggregate on (label, dim) with the exact-decimal mean
    (``functions.dec_avg``) so shuffle order can't move it; long form keeps the oracle
    a plain scalar hash instead of a float-array compare.

    Scale: the explode is map-side (no shuffle) and the aggregate
    carries 64× the key cardinality of labels — still tiny relative
    to the input; partial aggregation collapses it before the
    exchange. For wide fleets prefer aggregating per-dimension sums
    into fixed-width arrays via pandas UDAF only if the 64× row
    inflation ever dominates (it does not at dim≤1k)."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    )
    return (
        ex.groupBy("label", (F.col("dim0") + 1).cast("bigint").alias("dim"))
        .agg(
            dec_avg("v").alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


# --------------------------------------------------------------------------
# X6 — k-means corpus clustering (IVF training / domain bucketing)
# --------------------------------------------------------------------------
@register("kmeans_cluster_profile", survey_rows=("X6",), oracle=None)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 4 iterations, deterministic first-k
    init) over the embeddings, profiled per cluster: size, exact-
    decimal inertia share, and the dominant label with its count
    (labels cluster together — the homophily the testdata encodes).
    Iterative ⇒ not ANSI-SQL-expressible → rows-only check
    (SURVEY.md §2 legend B*); convergence, assignment optimality and
    partitioning invariance are pinned in tests/test_operators.py."""
    from flink_realtime_edu_spark.operators.clustering import kmeans_fit

    emb = load(spark, sf_dir, "embeddings")
    _, assigned, _ = kmeans_fit(emb, k=8, iters=4)
    labeled = assigned.select("vec_id", "cluster", "dist2").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    per_label = labeled.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n_label")
    )
    w = Window.partitionBy("cluster").orderBy(F.col("n_label").desc(), F.col("label"))
    dominant = (
        per_label.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("top_label"), F.col("n_label").alias("top_label_n"))
    )
    profile = labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        dec_sum("dist2", 4).alias("inertia"),
    )
    return profile.join(dominant, "cluster")


@register(
    "kmeans_quality_summary",
    survey_rows=("X6",),
    oracle="""
SELECT COUNT(*) AS n_vectors, 8 AS k, TRUE AS all_clusters_nonempty,
       TRUE AS inertia_monotone, TRUE AS mean_dom_share_ok
FROM embeddings
""",
)
def kmeans_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracled tolerance twin of kmeans_cluster_profile (the profile
    itself is iterative ⇒ rows-only; this folds the SAME fit into
    exactly-assertable facts, the A4-sketch pattern): every vector
    assigned (n_vectors — the oracle computes it exactly), all 8
    clusters non-empty, Lloyd's inertia history non-increasing, and
    mean dominant-label share above threshold (measured 0.131–0.167
    across sf0.001–0.1; threshold 0.09) — all deterministic under the
    first-k-by-id init on fixed data."""
    from flink_realtime_edu_spark.operators.clustering import kmeans_fit

    emb = load(spark, sf_dir, "embeddings")
    _, assigned, history = kmeans_fit(emb, k=8, iters=4)
    monotone = all(
        history[i + 1] <= history[i] + 1e-9 for i in range(len(history) - 1)
    )
    labeled = assigned.select("vec_id", "cluster").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    per = labeled.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.partitionBy("cluster")
    shares = (
        per.withColumn("tot", F.sum("n").over(wc))
        .groupBy("cluster")
        .agg(
            (F.max("n") / F.max("tot")).alias("dom_share"),
            F.max("tot").alias("n_vectors"),
        )
    )
    return shares.agg(
        F.sum("n_vectors").alias("n_vectors"),
        F.lit(8).alias("k"),
        (F.count(F.lit(1)) == F.lit(8)).alias("all_clusters_nonempty"),
        F.lit(monotone).alias("inertia_monotone"),
        (F.avg("dom_share") >= F.lit(0.09)).alias("mean_dom_share_ok"),
    )


@register(
    "embedding_quantization_snr",
    survey_rows=("X6", "F3", "F5", "A1"),
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), s AS (
  SELECT vec_id, label, x,
         list_max(list_transform(x, v -> abs(v))) / 127.0 AS sc
  FROM e
  WHERE list_max(list_transform(x, v -> abs(v))) > 0
), m AS (
  SELECT label, vec_id,
    ROUND(10 * LOG10(
      list_dot_product(x, x) /
      list_dot_product(list_transform(x, v -> v - round(v / sc) * sc),
                       list_transform(x, v -> v - round(v / sc) * sc))
    ), 6) AS snr_db
  FROM s
)
SELECT label, COUNT(*) AS n_vecs,
  {dec_avg_sql('snr_db')} AS avg_snr_db,
  MIN(snr_db) AS min_snr_db,
  MAX(snr_db) AS max_snr_db
FROM m GROUP BY label
""",
)
def embedding_quantization_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label reconstruction SNR of symmetric int8 scalar
    quantization (per-vector scale = max|x|/127 — the 4× memory
    compression an ANN index applies before distance computation at
    100 TB). SNR_db = 10·log10(Σx² / Σ(x−dequant(quant(x)))²),
    rounded to 6 dp per vector, then exact-decimal averaged per label.

    All arithmetic is sequential-order double folds (functions.dot
    discipline ≡ DuckDB list_dot_product bit-for-bit); round() on
    doubles is ties-away-from-zero in both engines. The per-vector
    scale binds ONCE via the array(...)-transform trick (an outer
    expression referenced inside a lambda re-evaluates per element
    otherwise). ~400 interpreted lambda evals per row — fine at this
    corpus; quantize inside the existing mapInPandas scorer if this
    ever joins the ANN hot path."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )
    x = F.col("x")
    sc_expr = F.array_max(F.transform(x, F.abs)) / F.lit(127.0)

    def per_row(s):
        errv = F.transform(x, lambda v: v - F.round(v / s) * s)
        sse = F.aggregate(
            F.zip_with(errv, errv, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = F.aggregate(
            F.zip_with(x, x, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.round(F.lit(10.0) * F.log10(sig / sse), 6)

    snr = F.element_at(F.transform(F.array(sc_expr), per_row), 1)
    per_vec = e.filter(sc_expr > 0).select("label", snr.alias("snr_db"))
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        dec_avg("snr_db").alias("avg_snr_db"),
        F.min("snr_db").alias("min_snr_db"),
        F.max("snr_db").alias("max_snr_db"),
    )


_SD_KM_THRESHOLD = 0.40


@register(
    "semdedup_kmeans_summary",
    survey_rows=("X5", "X6"),
    oracle="""
SELECT COUNT(*) AS n_vectors, 8 AS k, TRUE AS keeps_match_components,
       TRUE AS any_pruned, TRUE AS prune_rate_ok,
       TRUE AS pruned_have_dup_neighbor
FROM embeddings
""",
)
def semdedup_kmeans_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup exactly as the paper runs it — blocks = k-means
    clusters (k = 8, the seeded deterministic fit of
    kmeans_quality_summary), pairwise cosine ≥ 0.40 within each
    cluster, one survivor per semantic component. The cluster
    assignment is iterative ⇒ not SQL-replayable, so this is the
    tolerance-summary twin of the EXACT-oracled semdedup_label_blocks
    (the kmeans_cluster_profile / kmeans_quality_summary split):
    facts folded to exactly-assertable booleans, deterministic under
    the first-k-by-id init on fixed data —
    - n_vectors: every vector classified (oracle computes exactly);
    - keeps_match_components: #survivors == #semantic components
      (the keep rule is internally consistent);
    - any_pruned: the threshold actually bites (measured pruned
      counts 17/25/333 across sf0.001–0.1 — never vacuous);
    - prune_rate_ok: pruned fraction ≤ 0.5 (measured 0.03–0.17);
    - pruned_have_dup_neighbor: EVERY pruned vector has at least one
      direct ≥-threshold pair inside its block — the property a
      broken threshold or component propagation would violate."""
    from flink_realtime_edu_spark.operators.clustering import kmeans_fit
    from flink_realtime_edu_spark.operators.similarity import (
        block_pairs,
        semantic_dedup,
    )
    from flink_realtime_edu_spark.session import materialize as _materialize

    emb = load(spark, sf_dir, "embeddings")
    _, assigned, _ = kmeans_fit(emb, k=8, iters=4)
    blocks = emb.select("vec_id", "embedding").join(
        assigned.select("vec_id", "cluster"), "vec_id"
    )
    # the quadratic within-block self-join computes ONCE and feeds
    # both the dedup and the neighbor audit (materialized — AQE does
    # not stage-reuse the duplicated subtree)
    pairs = _materialize(
        block_pairs(blocks, block_col="cluster", threshold=_SD_KM_THRESHOLD)
    )
    res = _materialize(
        semantic_dedup(
            blocks, block_col="cluster", threshold=_SD_KM_THRESHOLD,
            pairs=pairs,
        )
    )
    paired_ids = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("vec_id"))
        .distinct()
    )
    pruned_wo_neighbor = (
        res.filter(~F.col("keep")).join(paired_ids, "vec_id", "left_anti").count()
    )
    return res.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.lit(8).alias("k"),
        (
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            == F.count_distinct("sem_cluster")
        ).alias("keeps_match_components"),
        (F.sum(F.when(~F.col("keep"), 1).otherwise(0)) >= 1).alias("any_pruned"),
        (
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            <= F.count(F.lit(1)) * 0.5
        ).alias("prune_rate_ok"),
        F.lit(pruned_wo_neighbor == 0).alias("pruned_have_dup_neighbor"),
    )
