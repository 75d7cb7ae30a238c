"""Semantics tests for the LLM-pipeline operators on constructed
inputs (the driver testdata has no true near-duplicates, so the
dedup pipelines must be pinned on corpora where the answer is known).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_realtime_edu_spark.operators.dedup import (
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from flink_realtime_edu_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from flink_realtime_edu_spark.sources import load

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = BASE.replace("today", "tonight")  # one-word edit → high Jaccard
FAR = "completely different words about spark catalyst optimizer and shuffle plans here"


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [(0, BASE), (1, NEAR), (2, FAR), (3, BASE)]  # 3 is exact dup of 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_near_and_exact_dups(toy_docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_duplicates(toy_docs, threshold=0.5).collect()
    }
    assert pairs[(0, 3)] == 1.0  # exact duplicate
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5  # near duplicate
    assert all(2 not in p for p in pairs)  # unrelated doc never pairs


def test_simhash_finds_near_dups_with_tight_hamming(toy_docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_duplicates(toy_docs, max_hamming=5).collect()}
    assert pairs[(0, 3)] == 0
    assert (0, 1) in pairs and pairs[(0, 1)] <= 5
    assert all(2 not in p for p in pairs)


def test_simhash_md5_twin_semantics(toy_docs, spark):
    """The dual-engine md5 signature (the oracle-checkable twin) must
    show the same near-dup STRUCTURE as the SipHash UDF variant:
    exact dups at hamming 0, near dups within a tight radius,
    unrelated docs never bucketed together — and the banding must
    recover exactly the brute-force pair set (pigeonhole recall)."""
    import itertools

    from flink_realtime_edu_spark.operators.dedup import simhash_signature_md5

    sig = simhash_signature_md5(toy_docs)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_duplicates(
            toy_docs, sig_df=sig, sig_bits=60, max_hamming=8
        ).collect()
    }
    assert pairs[(0, 3)] == 0  # identical text -> identical signature
    assert (0, 1) in pairs  # near dup within radius
    assert all(2 not in p for p in pairs)  # unrelated doc never pairs
    # full recall at the radius: banding == brute force over signatures
    sigs = {r[0]: r[1] for r in sig.collect()}
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 8
    }
    assert set(pairs) == brute


def test_md5_signature_builders_are_deterministic_and_bounded(spark):
    """md5_hash60 / the K-M minhash twin stay below 2^63 by
    construction (the dual-engine no-overflow contract) and are pure
    functions of the text."""
    from flink_realtime_edu_spark.operators.dedup import (
        md5_hash60,
        minhash_signature_md5_km,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta tok{i%3}") for i in range(20)],
        "doc_id long, text string",
    )
    h = docs.select(md5_hash60(F.col("text")).alias("h")).collect()
    assert all(0 <= r.h < 2**60 for r in h)
    a = sorted(map(tuple, minhash_signature_md5_km(docs, n_hashes=8).collect()))
    b = sorted(map(tuple, minhash_signature_md5_km(docs, n_hashes=8).collect()))
    assert a == b
    # every K-M value fits signed 64 even at the max seed
    assert all(0 <= v < 2**63 for row in a for v in row[1:])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_signature_md5_km(docs, n_hashes=9)


def test_winnowing_catches_partial_overlap(spark):
    """Two documents sharing one long substring (but otherwise
    different) must share fingerprints; unrelated docs must not.
    Winnowing guarantee: shared substrings of length >= k+window-1
    (here 11) produce at least one common fingerprint."""
    from flink_realtime_edu_spark.operators.dedup import fingerprint_overlap_pairs

    shared = "the catalyst optimizer rewrites logical plans before execution"
    rows = [
        (0, "intro text about nothing " + shared),
        (1, shared + " and a completely different tail here"),
        (2, "zebra quokka xylophone unrelated walrus content entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in fingerprint_overlap_pairs(docs, min_shared=1).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1
    assert all(2 not in p for p in pairs)


def test_cosine_topk_self_excluded_and_k_rows(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    top = cosine_topk(emb, q, k=3).collect()
    assert len(top) == 15
    assert all(r.nid != r.qid for r in top)
    assert all(-1.0 <= r.cos <= 1.0 for r in top)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF-Flat (16 clusters, 4-probe = 25% of the corpus scanned)
    should recover most true neighbors; results must be valid corpus
    vectors, never the query itself."""
    from flink_realtime_edu_spark.operators.similarity import ivf_cosine_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, q, k=5).collect()}
    rows = ivf_cosine_topk(emb, q, k=5, n_clusters=16, n_probe=4).collect()
    approx = {(r.qid, r.nid) for r in rows}
    assert all(r.qid != r.nid for r in rows)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_embedding_near_dup_finds_planted_duplicates(spark, sf_dir):
    """Plant a near-identical copy of vector 0 and an exact copy of
    vector 1; the bucketed pipeline must find both pairs and nothing
    from the random background (cos ≥ 0.99)."""
    from flink_realtime_edu_spark.operators.similarity import embedding_near_duplicates

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = {r.vec_id: list(r.embedding) for r in emb.filter(F.col("vec_id") < 2).collect()}
    near = [x * 1.001 for x in base[0]]  # same direction → cos ≈ 1
    planted = spark.createDataFrame(
        [(100000, near), (100001, base[1])], "vec_id long, embedding array<float>"
    )
    corpus = emb.unionByName(planted)
    pairs = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_duplicates(corpus, threshold=0.99).collect()
    }
    assert (0, 100000) in pairs and pairs[(0, 100000)] >= 0.999
    assert (1, 100001) in pairs and pairs[(1, 100001)] >= 0.999
    assert len(pairs) == 2  # no false positives from the random background


def test_embedding_near_dup_group_scoring_matches_pair_join(spark, sf_dir):
    """Removing the r13 ``.repartition("bkt")`` exchange (r14) must
    change only the plan: embedding_near_duplicates returns EXACTLY
    the pair set and scores of the plain bucket pair-join inlined
    below as the reference — self-join on bkt, id_a < id_b
    pair-dedup, then cosine_pair_udf + threshold filter. Threshold
    0.0 keeps every candidate pair, so the equality covers scores,
    not just the survivor set; planted near-dup clusters force
    multi-row buckets in every table."""
    from flink_realtime_edu_spark.operators.similarity import (
        adaptive_n_planes,
        cosine_pair_udf,
        embedding_near_duplicates,
        hyperplane_buckets,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    planted = spark.createDataFrame(
        [
            (100000 + 10 * i + j, [x * (1.0 + 0.001 * j) for x in vec])
            for i, (_, vec) in enumerate(base)
            for j in range(3)
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = emb.unionByName(planted)

    got = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_duplicates(corpus, threshold=0.0).collect()
    }

    # the plain pair-join shape, inlined as the reference
    n_planes = adaptive_n_planes(
        corpus.count(), target_bucket_rows=16, min_planes=12, max_planes=30
    )
    dim = len(base[0][1])
    buckets = hyperplane_buckets(n_planes, dim, n_tables=8, seed=42)
    tagged = corpus.select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.explode(buckets(F.col("embedding"))).alias("bkt"),
    )
    a = tagged.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "bkt")
    b = tagged.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "bkt")
    pairs = (
        a.join(b, on="bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    scorer = cosine_pair_udf().asNondeterministic()
    want = {
        (r.id_a, r.id_b): r.cos
        for r in pairs.select(
            "id_a", "id_b", scorer(F.col("va"), F.col("vb")).alias("cos")
        )
        .filter(F.col("cos") >= 0.0)
        .collect()
    }
    assert got == want
    assert len(got) > 10, "pair set too small to be a meaningful pin"


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Multi-table LSH (8 tables × 4 planes) must recover a solid
    share of the true top-5 even on these weakly-clustered synthetic
    embeddings (single-table recall here is ~0.04 — that's WHY the
    operator is multi-table)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {
        (r.qid, r.nid)
        for r in lsh_cosine_topk(emb, q, k=5, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # determinism: same seed → same result
    approx2 = {
        (r.qid, r.nid)
        for r in lsh_cosine_topk(emb, q, k=5, n_planes=4, n_tables=8).collect()
    }
    assert approx == approx2


def test_pq_adc_recall_and_determinism(spark, sf_dir):
    """PQ (m=16 × 256 codes, sample-trained) ADC alone must beat the
    0.5 floor the other ANN paths are held to; with the top-30 exact
    rerank the measured recall is 0.99–1.0, asserted at >= 0.9.
    Re-running the whole train+encode+score pipeline must reproduce
    the identical neighbor set (ordered sample, fixed init, row-local
    scoring — no RNG anywhere)."""
    from flink_realtime_edu_spark.operators.quantization import (
        pq_adc_topk,
        pq_fit_sample,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, q, k=5).collect()}
    cb = pq_fit_sample(emb, m=16, k=256)
    assert cb.shape == (16, 256, 4)
    adc_rows = pq_adc_topk(emb, q, cb, k=5).collect()
    adc = {(r.qid, r.nid) for r in adc_rows}
    assert all(r.qid != r.nid for r in adc_rows)
    assert len(adc & exact) / len(exact) >= 0.5
    rr = {(r.qid, r.nid) for r in pq_adc_topk(emb, q, cb, k=5, rerank_r=30).collect()}
    assert len(rr & exact) / len(exact) >= 0.9
    cb2 = pq_fit_sample(emb, m=16, k=256)
    assert (cb == cb2).all()
    rr2 = {(r.qid, r.nid) for r in pq_adc_topk(emb, q, cb2, k=5, rerank_r=30).collect()}
    assert rr == rr2


def test_pq_finds_planted_duplicate(spark, sf_dir):
    """A planted near-identical copy of vector 0 must surface as its
    PQ nearest neighbor even WITHOUT the exact rerank — quantization
    error is far smaller than the gap between a true duplicate and
    the random background."""
    from flink_realtime_edu_spark.operators.quantization import (
        pq_adc_topk,
        pq_fit_sample,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") == 0).collect()[0]
    near = [x * 1.001 for x in base.embedding]
    planted = spark.createDataFrame(
        [(100000, near)], "vec_id long, embedding array<float>"
    )
    corpus = emb.unionByName(planted)
    cb = pq_fit_sample(corpus, m=16, k=256)
    top = pq_adc_topk(corpus, emb.filter(F.col("vec_id") == 0), cb, k=1).collect()
    assert [(r.qid, r.nid) for r in top] == [(0, 100000)]


def test_ivfpq_recall_probe_semantics_and_determinism(spark, sf_dir):
    """IVF×PQ composition: recall tracks the IVF floor (the coarse
    quantizer bounds it — measured 0.64 here vs IVF-Flat's 0.64, so
    assert the same ≥ 0.5 bar), every returned neighbor LIVES in a
    cluster its query actually probed (the masking that keeps the
    n_probe/n_clusters cost model honest), no self-matches, and the
    whole fit+probe+ADC+rerank pipeline reruns bit-identically."""
    import numpy as np

    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_fit_sample,
    )
    from flink_realtime_edu_spark.operators.similarity import _ivf_fit_assign

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, q, k=5).collect()}
    assigned, centers = _ivf_fit_assign(emb, "vec_id", "embedding", 16)
    cb = pq_fit_sample(emb, m=16, k=256)
    rows = ivfpq_topk(
        assigned, centers, q, cb, k=5, n_probe=4, rerank_r=30
    ).collect()
    got = {(r.qid, r.nid) for r in rows}
    assert all(r.qid != r.nid for r in rows)
    assert len(got & exact) / len(exact) >= 0.5

    # probe semantics: neighbor's cluster ∈ its query's probed set
    cluster_of = {
        r.nid: r.cluster for r in assigned.select("nid", "cluster").collect()
    }
    qvecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
             for r in q.collect()}
    for qid, nid in got:
        d2 = ((qvecs[qid][None, :] - centers) ** 2).sum(axis=1)
        probed = set(np.argsort(d2)[:4].tolist())
        assert cluster_of[nid] in probed, (qid, nid)

    rows2 = ivfpq_topk(
        assigned, centers, q, cb, k=5, n_probe=4, rerank_r=30
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ivfpq_searches_appended_index(spark, sf_dir):
    """Index maintenance composes: vectors APPENDED to the IVF index
    via ivf_append (quantizer fit on the base only) are searchable
    through the IVF×PQ path — a planted near-copy of a query vector,
    arriving as delta, must surface as its top-1 neighbor (the ADC
    gap between a true duplicate and the random background dwarfs
    quantization error, the pq planted-duplicate property)."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_fit_sample,
    )
    from flink_realtime_edu_spark.operators.similarity import (
        _ivf_fit_assign,
        ivf_append,
    )

    from flink_realtime_edu_spark.operators.quantization import (
        pq_encode_index,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base_row = emb.filter(F.col("vec_id") == 0).collect()[0]
    near = [x * 1.001 for x in base_row.embedding]
    delta = spark.createDataFrame(
        [(100000, near)], "vec_id long, embedding array<float>"
    )
    assigned, centers = _ivf_fit_assign(emb, "vec_id", "embedding", 16)
    assigned = assigned.unionByName(ivf_append(delta, centers))
    cb = pq_fit_sample(emb, m=16, k=256)
    # codes at rest: the appended index is encoded ONCE (the r12
    # append-time discipline), search scores the stored codes
    indexed = pq_encode_index(assigned, cb)
    top = ivfpq_topk(
        indexed, centers,
        emb.filter(F.col("vec_id") == 0), cb,
        k=1, n_probe=4, rerank_r=5,
    ).collect()
    assert [(r.qid, r.nid) for r in top] == [(0, 100000)]


def test_knn_graph_lsh_invariants(spark, sf_dir):
    """Distributed k-NN graph (r12): ≤k edges per node with no self
    loops or duplicate (src, dst) pairs; every edge's endpoints share
    at least one LSH bucket (the candidate contract — the graph never
    scores a pair LSH did not propose); node-wise agreement with
    lsh_cosine_topk on a query subset (same buckets, same ranking ⇒
    the graph restricted to those nodes IS the top-k result); and
    bit-deterministic across reruns."""
    from flink_realtime_edu_spark.operators.similarity import (
        hyperplane_buckets,
        knn_graph_lsh,
        lsh_cosine_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    g = knn_graph_lsh(emb, k=5)
    rows = g.collect()
    assert all(r.src != r.dst for r in rows)
    per_src = {}
    for r in rows:
        per_src.setdefault(r.src, []).append(r.dst)
    assert all(len(d) <= 5 and len(set(d)) == len(d) for d in per_src.values())
    # candidate contract: endpoints share a bucket
    bkts = hyperplane_buckets(4, len(emb.select("embedding").first()[0]), 8, 42)
    bucket_of = {
        r.vec_id: set(r.b)
        for r in emb.select(
            "vec_id", bkts(F.col("embedding")).alias("b")
        ).collect()
    }
    assert all(bucket_of[r.src] & bucket_of[r.dst] for r in rows)
    # node-wise ≡ the driver-collected LSH top-k on a subset
    q = emb.filter(F.col("vec_id") < 10)
    want = {
        (r.qid, r.nid, r.cos)
        for r in lsh_cosine_topk(emb, q, k=5).collect()
    }
    got = {(r.src, r.dst, r.cos) for r in rows if r.src < 10}
    assert got == want
    rerun = {(r.src, r.dst, r.cos) for r in knn_graph_lsh(emb, k=5).collect()}
    assert rerun == {(r.src, r.dst, r.cos) for r in rows}


def test_adaptive_n_planes():
    """Scale-adaptive LSH geometry (VERDICT r12 item 3): the oracle
    scales must resolve to EXACTLY the historical fixed geometry (the
    floor) — every recorded recall/coverage number was measured under
    it — while larger corpora get log-scaled codes with the clamps
    applied. Pins both the search profile (4096-row target, floor 4)
    and the near-dup profile (16-row target, floor 12)."""
    from flink_realtime_edu_spark.operators.similarity import (
        adaptive_n_planes,
    )

    # search/k-NN profile (lsh_cosine_topk / knn_graph_lsh defaults)
    for n in (0, 1, 600, 6_000, 60_000):  # sf0.001–0.1 land on the floor
        assert adaptive_n_planes(n) == 4
    assert adaptive_n_planes(600_000) == 8      # native sf1
    assert adaptive_n_planes(6_000_000) == 11
    assert adaptive_n_planes(1_000_000_000) == 18
    assert adaptive_n_planes(10**15) == 24      # cap binds
    # graph profile (knn_graph_lsh default: every vector is a query,
    # so candidates/vector = n_tables·target is the cost model)
    g = dict(target_bucket_rows=128)
    for n in (0, 500, 2_000):  # embeddings at sf0.001/0.01/0.1
        assert adaptive_n_planes(n, **g) == 4
    assert adaptive_n_planes(60_000, **g) == 9
    assert adaptive_n_planes(500_000, **g) == 12   # native sf1
    assert adaptive_n_planes(1_000_000_000, **g) == 23
    # near-dup profile (embedding_near_duplicates default)
    nd = dict(target_bucket_rows=16, min_planes=12, max_planes=30)
    for n in (0, 600, 6_000, 60_000):
        assert adaptive_n_planes(n, **nd) == 12
    assert adaptive_n_planes(600_000, **nd) == 16
    assert adaptive_n_planes(1_000_000_000, **nd) == 26
    assert adaptive_n_planes(10**15, **nd) == 30
    # expected occupancy stays ≤ target past the floor (until the cap)
    for n in (10_000_000, 10**9):
        assert n / 2 ** adaptive_n_planes(n) <= 4096


def test_pinned_n_planes_reads_dim_without_corpus_scan(spark, sf_dir):
    """With ``n_planes`` pinned, building an LSH search, k-NN graph or
    near-dup frame needs only the vector dimension: ONE job, a
    single-stage limit-1 read. The adaptive path's count aggregate
    (a whole-corpus scan feeding an exchange, so a job of two stages,
    or two jobs under AQE) must not run."""
    import time

    from flink_realtime_edu_spark.operators.similarity import (
        embedding_near_duplicates,
        knn_graph_lsh,
    )

    emb = load(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    builds = {
        "lsh": lambda: lsh_cosine_topk(
            emb, emb.filter(F.col("vec_id") < 5), n_planes=4
        ),
        "graph": lambda: knn_graph_lsh(emb, n_planes=4),
        "near_dup": lambda: embedding_near_duplicates(emb, n_planes=12),
    }
    for name, build in builds.items():
        group = f"pinned_n_planes:{name}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store fills from the asynchronous listener bus
        for _ in range(100):
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            if jobs and all(j.status == "SUCCEEDED" for j in jobs):
                break
            time.sleep(0.1)
        assert len(jobs) == 1 and len(jobs[0].stageIds) == 1, (name, jobs)


def test_knn_graph_refine_improves_and_stays_invariant(spark, sf_dir):
    """NN-descent round (r13): the refined graph must (a) keep the
    structural invariants (≤k edges/src, no self loops, no dup
    pairs), (b) be MONOTONE against the exact top-k — every exact
    neighbor the base graph found survives refinement (top-k over a
    superset under the same total order), with sampled recall
    strictly ≥ base, (c) never lower any edge's score: the per-src
    k-th-best cosine is non-decreasing, and (d) be deterministic
    across reruns."""
    from flink_realtime_edu_spark.operators.similarity import (
        cosine_topk,
        knn_graph_lsh,
        knn_graph_refine,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = knn_graph_lsh(emb, k=5)
    ref = knn_graph_refine(base, emb, k=5)
    rows = ref.collect()
    per_src: dict[int, list] = {}
    for r in rows:
        assert r.src != r.dst
        per_src.setdefault(r.src, []).append((r.dst, r.cos))
    assert all(
        len({d for d, _ in v}) == len(v) and len(v) <= 5
        for v in per_src.values()
    )
    # (b) monotone vs exact: base's exact hits survive; recall >= base
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, q, k=5).collect()}
    base_rows = base.collect()
    base_hits = {(r.src, r.dst) for r in base_rows if (r.src, r.dst) in exact}
    ref_hits = {(r.src, r.dst) for r in rows if (r.src, r.dst) in exact}
    assert base_hits <= ref_hits
    # (c) per-src worst kept score never drops
    base_min = {}
    for r in base_rows:
        base_min[r.src] = min(base_min.get(r.src, 1.0), r.cos)
    for src, v in per_src.items():
        if src in base_min and len(v) == 5:
            assert min(c for _, c in v) >= base_min[src]
    # (d) deterministic
    rerun = {(r.src, r.dst, r.cos) for r in
             knn_graph_refine(base, emb, k=5).collect()}
    assert rerun == {(r.src, r.dst, r.cos) for r in rows}


def test_knn_graph_kernel_matches_pair_udf():
    """The graph scorer's einsum("ij,kj->ik") contraction must stay
    BIT-identical to cosine_pair_udf's per-pair einsum("ij,ij->i")
    (both accumulate over j in ascending order) — the property that
    lets the per-bucket matrix form replace the 122×-slower
    materialized-pair form without perturbing a single rounded
    score. Random trials across shapes; any numpy change that breaks
    this fails here, not in a recall drift."""
    import numpy as np

    rng = np.random.default_rng(3)
    for _ in range(25):
        b, n = int(rng.integers(1, 30)), int(rng.integers(2, 150))
        blk = rng.standard_normal((b, 64))
        mat = rng.standard_normal((n, 64))
        a_rep = np.repeat(blk, n, axis=0)
        b_tile = np.tile(mat, (b, 1))
        num_pair = np.einsum("ij,ij->i", a_rep, b_tile).reshape(b, n)
        den_pair = (
            np.sqrt(np.einsum("ij,ij->i", a_rep, a_rep))
            * np.sqrt(np.einsum("ij,ij->i", b_tile, b_tile))
        ).reshape(b, n)
        num_ik = np.einsum("ij,kj->ik", blk, mat)
        den_ik = (
            np.sqrt(np.einsum("ij,ij->i", blk, blk))[:, None]
            * np.sqrt(np.einsum("ij,ij->i", mat, mat))[None, :]
        )
        assert (num_pair == num_ik).all()
        assert (den_pair == den_ik).all()


def test_knn_graph_bucket_cap_bounds_mega_clusters(spark):
    """The occupancy cap (skew salt): a planted mega-cluster of
    near-identical vectors lands in one LSH bucket per table; with a
    small cap the graph must still (a) give every clique member k
    in-clique neighbors (sub-bucket neighbors are still cluster
    members — the documented tradeoff), (b) keep the ≤k / no-self /
    no-dup invariants, and (c) be a no-op when the cap exceeds every
    bucket (default-vs-huge-cap equality on the same corpus)."""
    import numpy as np

    from flink_realtime_edu_spark.operators.similarity import knn_graph_lsh

    rng = np.random.default_rng(5)
    base = rng.standard_normal(64)
    rows = [
        (i, (base + 0.001 * rng.standard_normal(64)).tolist())
        for i in range(300)  # the mega-clique
    ] + [
        (1000 + i, rng.standard_normal(64).tolist()) for i in range(100)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    g = knn_graph_lsh(corpus, k=3, n_planes=4, max_bucket_rows=32)
    edges = g.collect()
    per_src: dict[int, list[int]] = {}
    for r in edges:
        assert r.src != r.dst
        per_src.setdefault(r.src, []).append(r.dst)
    assert all(len(set(d)) == len(d) and len(d) <= 3 for d in per_src.values())
    clique_srcs = [s for s in per_src if s < 300]
    assert len(clique_srcs) >= 290  # coverage survives the split
    for s in clique_srcs:
        assert all(d < 300 for d in per_src[s])  # in-clique neighbors
        assert len(per_src[s]) == 3
    # no-op equality when no bucket exceeds the cap
    small = spark.createDataFrame(
        rows[300:], "vec_id long, embedding array<double>"
    )
    a = {(r.src, r.dst, r.cos) for r in
         knn_graph_lsh(small, k=3, n_planes=4).collect()}
    b = {(r.src, r.dst, r.cos) for r in
         knn_graph_lsh(small, k=3, n_planes=4, max_bucket_rows=10**6).collect()}
    assert a == b and a


def test_ivfpq_residual_encoding_semantics(spark, sf_dir):
    """Residual PQ (flag-gated; VERDICT r11 item 3): codes from
    pq_fit_sample_residual scored with the SAME centers_norm must (a)
    surface a planted near-duplicate as top-1 through the full
    codes-at-rest path, (b) stay bit-deterministic across reruns, and
    (c) differ from the raw-encoding ADC scores (the bias term and
    residual codebooks genuinely engage — if the two paths ever
    collapse to identical ADC scores the flag is dead code)."""
    from flink_realtime_edu_spark.operators.quantization import (
        ivfpq_topk,
        pq_encode_index,
        pq_fit_sample,
        pq_fit_sample_residual,
    )
    from flink_realtime_edu_spark.operators.similarity import _ivf_fit_assign

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base_row = emb.filter(F.col("vec_id") == 0).collect()[0]
    near = [x * 1.001 for x in base_row.embedding]
    corpus = emb.unionByName(
        spark.createDataFrame(
            [(100000, near)], "vec_id long, embedding array<float>"
        )
    )
    q = emb.filter(F.col("vec_id") == 0)
    assigned, centers = _ivf_fit_assign(corpus, "vec_id", "embedding", 16)
    cbr, cn = pq_fit_sample_residual(corpus, centers, m=16, k=256)
    idx_res = pq_encode_index(assigned, cbr, centers_norm=cn)
    top = ivfpq_topk(
        idx_res, centers, q, cbr, k=1, n_probe=4, rerank_r=5, centers_norm=cn
    ).collect()
    assert [(r.qid, r.nid) for r in top] == [(0, 100000)]
    rerun = ivfpq_topk(
        idx_res, centers, q, cbr, k=1, n_probe=4, rerank_r=5, centers_norm=cn
    ).collect()
    assert sorted(map(tuple, top)) == sorted(map(tuple, rerun))
    # ADC-only scores (no rerank) must differ between raw and residual
    cb_raw = pq_fit_sample(corpus, m=16, k=256)
    idx_raw = pq_encode_index(assigned, cb_raw)
    adc_raw = {
        (r.qid, r.nid): r.approx_cos
        for r in ivfpq_topk(
            idx_raw, centers, q, cb_raw, k=5, n_probe=4, rerank_r=0
        ).collect()
    }
    adc_res = {
        (r.qid, r.nid): r.approx_cos
        for r in ivfpq_topk(
            idx_res, centers, q, cbr, k=5, n_probe=4, rerank_r=0,
            centers_norm=cn,
        ).collect()
    }
    shared = set(adc_raw) & set(adc_res)
    assert shared and any(adc_raw[p] != adc_res[p] for p in shared)


def test_ann_probe_collect_guard(spark, sf_dir):
    """The brute-force and PQ scorers collect the PROBE set to the
    driver (batch-scoring contract: |Q| driver-sized). An oversized
    query frame must raise a clear ValueError instead of OOMing the
    driver building the query matrix / LUT tensor."""
    import pytest

    from flink_realtime_edu_spark.operators.quantization import (
        pq_adc_topk,
        pq_fit_sample,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(emb, q, k=3, max_queries=4)
    cb = pq_fit_sample(emb, m=16, k=16)
    with pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk(emb, q, cb, k=3, max_queries=4)
    # At the cap exactly, both still run.
    assert len(cosine_topk(emb, q, k=3, max_queries=5).collect()) == 15
    assert len(pq_adc_topk(emb, q, cb, k=3, max_queries=5).collect()) == 15


def test_minhash_cross_validates_exact_jaccard(spark, sf_dir):
    """The hashed pipeline (rows-only checked) against the
    oracle-checked exact one: on the testdata's planted near-dups,
    MinHash+LSH at J >= 0.7 must recover EXACTLY the exact-Jaccard
    J >= 0.7 pair set (32 hashes / 8 bands makes a miss at
    J ~ 0.9-0.99 astronomically unlikely, and the verify stage
    removes any false positive)."""
    from flink_realtime_edu_spark.operators.dedup import jaccard_pairs_exact

    docs = load(spark, sf_dir, "documents")
    mh = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(docs, threshold=0.7).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs_exact(docs, threshold=0.7).collect()
    }
    assert mh == exact
    assert len(exact) > 0  # the corpus really contains planted dups


def test_cosine_topk_partitioning_invariant_and_impls_agree(spark, sf_dir):
    """The vectorized scorer prunes to a LOCAL top-k per Arrow batch
    before the global rank — only safe because the local comparator is
    the exact final total order, so the answer must be identical under
    any partitioning. And the numpy sequential-dimension accumulation
    must reproduce the JVM fold bit-for-bit (both feed the same
    oracle)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    base = rows(cosine_topk(emb, queries, k=5))
    assert base == rows(cosine_topk(emb.repartition(13), queries, k=5))
    assert base == rows(cosine_topk(emb, queries, k=5, impl="expr"))


def test_approx_distinct_within_hll_error_bounds(spark, sf_dir):
    """A4: both HLL estimators must land within their documented
    relative standard deviation of the exact count (default rsd for
    approx_count_distinct is 5%; assert 4 sigma to be flake-proof,
    and that the estimate is never catastrophically off). This pins
    the RAW estimates tightly; the registered query's 25% tolerance
    booleans (its driver oracle since r4) are the looser public
    contract."""
    df = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_uv"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("hll_uv"),
            F.countDistinct("user_id").alias("exact_uv"),
        )
    )
    for r in df.collect():
        for est_col in ("approx_uv", "hll_uv"):
            est, exact = r[est_col], r["exact_uv"]
            assert exact > 0
            rel_err = abs(est - exact) / exact
            assert rel_err <= 0.20, (r["event_type"], est_col, est, exact)


def test_power_sum_moments_match_native_aggregates(spark, sf_dir):
    """price_moments_by_flag derives stddev/var/covar/corr from exact
    decimal power sums (queries/statistics.py — the native moment
    aggregates are float-order-dependent, so they can't be value-
    hashed cross-engine). Check the formulas compute the same
    statistics as Spark's native stddev_samp/var_samp/covar_samp/corr
    to tight relative tolerance, so the oracle is checking real
    statistics."""
    from flink_realtime_edu_spark.queries import load_registry

    ours = {
        r["l_returnflag"]: r
        for r in load_registry()["price_moments_by_flag"].build(spark, sf_dir).collect()
    }
    native = {
        r["l_returnflag"]: r
        for r in (
            load(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.stddev_samp("l_extendedprice").alias("sd"),
                F.var_samp("l_extendedprice").alias("var"),
                F.covar_samp("l_extendedprice", "l_quantity").alias("cov"),
                F.corr("l_extendedprice", "l_quantity").alias("corr"),
            )
        ).collect()
    }
    assert set(ours) == set(native)
    for flag, r in ours.items():
        n = native[flag]
        for got, want, dp in [
            (r["stddev_price"], n["sd"], 4),
            (r["var_price"], n["var"], 2),
            (r["covar_price_qty"], n["cov"], 2),
            (r["corr_price_qty"], n["corr"], 6),
        ]:
            # got is rounded to dp places in the query; allow half an ulp
            # of that rounding plus float slack in the native aggregate.
            tol = 0.5 * 10**-dp + 1e-9 * max(1.0, abs(want))
            assert abs(got - want) <= tol, (flag, got, want, dp)


def test_kmeans_converges_and_assigns_optimally(spark, sf_dir):
    """operators/clustering.py: (1) Lloyd's inertia is non-increasing;
    (2) final assignments are argmin-distance to the final centroids
    (recomputed in plain numpy); (3) the fit is partitioning-
    invariant (exact-decimal centroid means + row-local assignment)."""
    import numpy as np

    from flink_realtime_edu_spark.operators.clustering import kmeans_fit

    emb = load(spark, sf_dir, "embeddings")
    cents, assigned, hist = kmeans_fit(emb, k=6, iters=4)
    assert all(b <= a + 1e-9 for a, b in zip(hist, hist[1:])), hist

    rows = assigned.select("vec_id", "cluster", "embedding").collect()
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)
    got = np.array([r["cluster"] for r in rows])
    # Allow distance ties (argmin picks lowest id on both paths, but
    # float formula differs: |x-c|^2 vs expanded form) — compare
    # distances, not ids.
    picked = d2[np.arange(len(x)), got]
    best = d2[np.arange(len(x)), want]
    assert np.allclose(picked, best, rtol=1e-9, atol=1e-9)

    _, _, hist2 = kmeans_fit(emb.repartition(17), k=6, iters=4)
    assert hist == hist2


def test_cms_one_sided_and_bounded(spark, sf_dir):
    """operators/sketch.py: for EVERY distinct token in the corpus,
    the CMS estimate is >= the exact count (one-sided guarantee,
    exact property, not probabilistic) and the overestimate stays
    within the e/width * N bound (probabilistic with prob
    ~1-(1/e)^depth; at depth=4, width=1024 a corpus-wide violation
    would be a ~2% event — use 2x slack to make it flake-proof)."""
    import math

    from flink_realtime_edu_spark.operators.sketch import cms_build, cms_estimate

    tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    n_total = tok.count()
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cms = cms_build(tok, "term", width=1024, depth=4)
    est = cms_estimate(cms, tok, "term", width=1024, depth=4)
    joined = exact.join(est, "term").collect()
    assert len(joined) == exact.count()
    bound = 2 * math.e / 1024 * n_total
    for r in joined:
        assert r["est"] >= r["exact_cnt"], r
        assert r["est"] - r["exact_cnt"] <= bound, (r, bound)


def test_contamination_flags_planted_overlap(spark):
    """benchmark_contamination on a constructed corpus: a doc copying
    a 7+-token run from the benchmark source is flagged with the
    right gram fraction; an unrelated doc is clean (flagged=0)."""
    from flink_realtime_edu_spark.queries import load_registry
    import tempfile, os

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    leaked = "xx yy " + bench_text + " zz"   # contains benchmark 7-grams
    clean = "one two three four five six seven eight nine ten eleven"
    rows = [
        (0, bench_text, "en", "src0", len(bench_text)),
        (1, leaked, "en", "src1", len(leaked)),
        (2, clean, "en", "src2", len(clean)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(td, "documents.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            src = f"/root/testdata/sf0.001/{t}.parquet"
            os.symlink(src, os.path.join(td, f"{t}.parquet"))
        out = {
            r["doc_id"]: r
            for r in load_registry()["benchmark_contamination"].build(spark, td).collect()
        }
    # leaked doc: 13 tokens -> 7 distinct grams, of which the 4 fully
    # inside the copied 10-token run are benchmark grams.
    assert out[1]["flagged"] == 1
    assert out[1]["n_grams"] == 7 and out[1]["n_contaminated"] == 4
    assert out[2]["flagged"] == 0 and out[2]["n_contaminated"] == 0


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4-5 (diameter 4 → multiple propagation rounds),
    separate pair 10-11, and a self-loop 20-20 (dropped: no edge)."""
    from flink_realtime_edu_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 4), (10, 11), (20, 20)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_partitioning_invariant(spark):
    """Same labels regardless of input partitioning/order."""
    from flink_realtime_edu_spark.operators.graph import connected_components

    rows = [(i + 1, i) for i in range(20)] + [(100, 200), (300, 200)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    a = sorted(map(tuple, connected_components(edges).collect()))
    b = sorted(
        map(tuple, connected_components(edges.repartition(13).orderBy(F.desc("src"))).collect())
    )
    assert a == b
    assert dict(a)[19] == 0 and dict(a)[300] == 100


def test_connected_components_raises_when_not_converged(spark):
    from flink_realtime_edu_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=3)


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Near-dup cluster members must land in the same split, and every
    document must be assigned exactly once (row conservation)."""
    import os
    import tempfile

    from flink_realtime_edu_spark.queries import load_registry

    near2 = BASE.replace("quick", "quickest")
    rows = [
        (i, t, "en", "s", len(t))
        for i, t in [(0, BASE), (1, NEAR), (2, FAR), (3, BASE), (4, near2)]
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(td, "documents.parquet")
        )
        out = load_registry()["leakage_safe_split"].build(spark, td).collect()
    # docs {0,1,3,4} are one Jaccard cluster, doc 2 a singleton group:
    # whichever splits the two group hashes land in, each split must
    # hold WHOLE groups (4-doc and/or 1-doc), never a fragment.
    got = {r["split"]: (r["n_docs"], r["n_groups"]) for r in out}
    assert sum(n for n, _ in got.values()) == 5
    assert sum(g for _, g in got.values()) == 2
    for n_docs, n_groups in got.values():
        assert (n_docs, n_groups) in {(4, 1), (1, 1), (5, 2)}


def test_approx_percentiles_within_rank_error(spark, sf_dir):
    """percentile_approx(accuracy=10000) must land within the GK
    rank-error bound of the exact percentile: for group size n the
    returned value's rank differs from ceil(q*n) by at most
    n/accuracy (+1 for interpolation slack). Pins the RAW quantiles
    tightly; the registered query's n/100 rank booleans (its driver
    oracle since r4) are the looser public contract."""
    approx = {
        r.event_type: r
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("p50"),
            F.percentile_approx("value", 0.9, 10000).alias("p90"),
        )
        .collect()
    }
    rows = (
        load(spark, sf_dir, "events")
        .select("event_type", "value")
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("value")).alias("vs"))
        .collect()
    )
    for r in rows:
        vs, n = r.vs, len(r.vs)
        tol = max(1, n // 10000) + 1
        for q, got in ((0.5, approx[r.event_type].p50), (0.9, approx[r.event_type].p90)):
            import bisect

            lo = bisect.bisect_left(vs, got)
            hi = bisect.bisect_right(vs, got)
            target = q * n
            assert lo - tol <= target <= hi + tol, (r.event_type, q, got, lo, hi, target)


def test_jaccard_df_cap_bounds_hot_shingle_blowup(spark):
    """100-TB guard for the exact-Jaccard inverted index: a shingle
    present in d docs emits d(d-1)/2 self-join rows, so one
    corpus-wide stop-phrase shingle would go quadratic. The df-cap
    must (a) keep pair-row output at ZERO when the only shared
    shingle is hot, (b) leave genuine low-df near-dup pairs intact."""
    from flink_realtime_edu_spark.operators.dedup import jaccard_pairs_exact

    # 60 docs all sharing ONLY the planted stop shingle "terms of
    # service"; every other shingle is unique to its doc.
    hot = [(i, f"terms of service w{i}a w{i}b w{i}c w{i}d") for i in range(60)]
    # plus one genuine near-dup pair built from rare (df<=2) shingles
    hot += [(100, BASE), (101, NEAR)]
    docs = spark.createDataFrame(hot, "doc_id long, text string")

    # uncapped, threshold 0: the hot shingle alone creates C(60,2)
    # candidate pairs — the blowup the cap exists to prevent
    uncapped = jaccard_pairs_exact(docs, threshold=0.0, max_df=None)
    assert uncapped.count() >= 60 * 59 // 2

    # capped: stop shingle df=60 > 20 is dropped BEFORE the self-join,
    # so the hot-doc pairs never materialize; the rare-shingle
    # near-dup pair survives with its exact capped-universe Jaccard
    capped = jaccard_pairs_exact(docs, threshold=0.5, max_df=20)
    rows = {(r.id_a, r.id_b) for r in capped.collect()}
    assert rows == {(100, 101)}
    all_pairs = jaccard_pairs_exact(docs, threshold=0.0, max_df=20)
    assert all_pairs.count() <= 61  # bounded: no quadratic hot-key term


def test_materialize_persist_mode_oracle_equal(spark, sf_dir):
    """Cluster-mode materialization (persist MEMORY_AND_DISK, lineage
    kept — survives executor loss on preemptible clusters) must be a
    pure performance knob: under it the heaviest multi-materialize
    query (near_dup_jaccard: two materialize points feeding a
    self-join) stays EXACTLY oracle-equal."""
    from flink_realtime_edu_spark.queries import load_registry
    from flink_realtime_edu_spark.session import MATERIALIZE_CONF
    from tests.oracle import compare

    spec = load_registry()["near_dup_jaccard"]
    spark.conf.set(MATERIALIZE_CONF, "persist")
    try:
        compare(spec.build(spark, sf_dir), spec.oracle, sf_dir)
    finally:
        spark.conf.unset(MATERIALIZE_CONF)


def test_pii_redaction_on_adversarial_forms(spark):
    """redact_pii scrubs tricky-but-valid shapes, leaves look-alikes
    alone, and its residual audit counts zero on the output."""
    from flink_realtime_edu_spark.operators.redaction import (
        pii_total_count,
        redact_pii,
    )

    rows = [
        (0, "mail a.b-c_d%e+f@sub.domain.example.co now"),
        (1, "call +44-123-4567 or +1-555-123-4567 today"),
        (2, "hosts 10.0.0.1 and 255.255.255.255 up"),
        (3, "ssn 123-45-6789 leaked"),
        (4, "version v1.2 date 2024-01-02 price 10.50 fine"),
        (5, "two emails a@b.io c@d.org together"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    out = {
        r["i"]: (r["red"], r["residual"])
        for r in df.select(
            "i",
            redact_pii("t").alias("red"),
            pii_total_count(redact_pii("t")).alias("residual"),
        ).collect()
    }
    assert out[0][0] == "mail <EMAIL> now"
    assert out[1][0] == "call <PHONE> or <PHONE> today"
    assert out[2][0] == "hosts <IP> and <IP> up"
    assert out[3][0] == "ssn <ID> leaked"
    # look-alikes survive: short version strings, dates (no ssn shape),
    # decimal prices.
    assert out[4][0] == "version v1.2 date 2024-01-02 price 10.50 fine"
    assert out[5][0] == "two emails <EMAIL> <EMAIL> together"
    assert all(res == 0 for _, res in out.values())


def test_cdc_envelope_debezium_existence_contract(spark):
    """The envelope serializer must honor debezium's existence rules:
    a key's first SURVIVING event is a create even when errors precede
    it, the event right after a delete is a create (before=NULL), and
    tombstones are emitted only for keys that exist (leading/repeated
    errors vanish instead of producing bogus deletes)."""
    import json

    from flink_realtime_edu_spark.queries.temporal import events_as_cdc_envelope

    rows = [
        # user 1: error first, then states, delete, then re-create
        (1, "2024-01-01 00:00:00", 1, "error"),
        (2, "2024-01-01 00:01:00", 1, "view"),
        (3, "2024-01-01 00:02:00", 1, "click"),
        (4, "2024-01-01 00:03:00", 1, "error"),
        (5, "2024-01-01 00:04:00", 1, "error"),  # repeated delete → dropped
        (6, "2024-01-01 00:05:00", 1, "purchase"),
        # user 2: plain create/update
        (7, "2024-01-01 00:00:30", 2, "view"),
        (8, "2024-01-01 00:01:30", 2, "purchase"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, t, 0.0, "{}") for i, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    env = [
        json.loads(r["value"])
        for r in events_as_cdc_envelope(ev).collect()
    ]
    by_eid = {e["event_id"]: e for e in env}
    assert 1 not in by_eid, "leading error must not emit a tombstone"
    assert 5 not in by_eid, "repeated error must not emit a tombstone"
    assert by_eid[2]["op"] == "c" and "before" not in by_eid[2]
    assert by_eid[3]["op"] == "u" and by_eid[3]["before"]["state"] == "view"
    assert by_eid[4]["op"] == "d" and by_eid[4]["before"]["state"] == "click"
    assert "after" not in by_eid[4]
    assert by_eid[6]["op"] == "c" and "before" not in by_eid[6]
    assert by_eid[7]["op"] == "c"
    assert by_eid[8]["op"] == "u" and by_eid[8]["before"]["state"] == "view"


def test_text_normalization_unicode_and_engine_parity(spark):
    """The normalizer's unicode semantics on adversarial strings:
    NFC composition (decomposed é → composed), control chars → space,
    ASCII whitespace runs collapsed, unicode spaces (U+00A0) PRESERVED
    (the explicit ASCII class, not \\s — the cross-engine trap), and
    the Spark UDF output equal to both the Python reference and the
    DuckDB SQL twin on every case."""
    import duckdb

    from flink_realtime_edu_spark.operators.textnorm import (
        NORMALIZE_SQL,
        normalize_text_py,
        normalize_text_udf,
    )

    cases = [
        "é café",      # decomposed accents → NFC composes
        "  a\tb\r\n c \f\v ",       # whitespace zoo
        "x\x00y\x07z\x7fw",         # control chars
        "a b",                 # NBSP must survive
        "",
        None,
        "already clean",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, t string")
    got = {
        r.i: r.n
        for r in df.select("i", normalize_text_udf()(F.col("t")).alias("n")).collect()
    }
    assert got[0] == "\u00e9 caf\u00e9"  # composed single codepoints
    assert got[1] == "a b c"
    assert got[2] == "x y z w"
    assert got[3] == "a b"
    assert got[4] == "" and got[5] is None
    for i, c in enumerate(cases):
        assert got[i] == normalize_text_py(c), i
        if c is not None:
            sql = NORMALIZE_SQL.format(col="?")
            assert got[i] == duckdb.sql(f"select {sql}", params=[c]).fetchone()[0], i


def test_cep_first_match_and_strict_semantics(spark):
    """Generic CEP operator semantics on a hand-built sequence: the
    relaxed mode finds the EARLIEST completion chain (and honors the
    within-horizon), the strict mode only fires on consecutive
    events and reports every overlapping position."""
    from flink_realtime_edu_spark.operators.cep import (
        cep_first_match,
        cep_strict_matches,
    )

    rows = [
        # user 1: view@0, click@1h, view@2h, purchase@3h → chain 0..3h
        (0, "2024-01-01 00:00:00", 1, "view"),
        (1, "2024-01-01 01:00:00", 1, "click"),
        (2, "2024-01-01 02:00:00", 1, "view"),
        (3, "2024-01-01 03:00:00", 1, "purchase"),
        # user 2: click before any view → no match
        (4, "2024-01-01 00:00:00", 2, "click"),
        (5, "2024-01-01 01:00:00", 2, "purchase"),
        (6, "2024-01-01 02:00:00", 2, "view"),
        # user 3: completes but outside the 2h horizon
        (7, "2024-01-01 00:00:00", 3, "view"),
        (8, "2024-01-01 00:30:00", 3, "click"),
        (9, "2024-01-01 04:00:00", 3, "purchase"),
        # user 4: error error error error → two strict triples
        (10, "2024-01-01 00:00:00", 4, "error"),
        (11, "2024-01-01 00:01:00", 4, "error"),
        (12, "2024-01-01 00:02:00", 4, "error"),
        (13, "2024-01-01 00:03:00", 4, "error"),
        # user 5: errors separated by a view → no strict triple
        (14, "2024-01-01 00:00:00", 5, "error"),
        (15, "2024-01-01 00:01:00", 5, "error"),
        (16, "2024-01-01 00:02:00", 5, "view"),
        (17, "2024-01-01 00:03:00", 5, "error"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type")

    got = {
        r.user_id: (r.start_ts.isoformat(), r.end_ts.isoformat(), r.duration_s)
        for r in cep_first_match(
            ev, ["view", "click", "purchase"], "2 hours"
        ).collect()
    }
    # user 1: earliest chain view@0 → click@1h → purchase@3h exceeds
    # 2h, so no user at all under the 2h horizon except... none.
    assert 3 not in got and 2 not in got
    got24 = {
        r.user_id: (r.start_ts.isoformat(), r.duration_s)
        for r in cep_first_match(
            ev, ["view", "click", "purchase"], "24 hours"
        ).collect()
    }
    assert got24[1] == ("2024-01-01T00:00:00", 10800.0)
    assert got24[3] == ("2024-01-01T00:00:00", 14400.0)
    assert 2 not in got24

    strict = sorted(
        (r.user_id, r.start_ts.isoformat())
        for r in cep_strict_matches(
            ev, ["error", "error", "error"], order_cols=["event_id"]
        ).collect()
    )
    assert strict == [
        (4, "2024-01-01T00:00:00"),
        (4, "2024-01-01T00:01:00"),
    ]


def test_cep_timed_out_partial_matches(spark):
    """Timeout side output semantics on a hand-built sequence: the
    matched prefix is cut at the horizon, completed-but-late chains
    time out too, keys that never start emit nothing, and the
    timeout set is the exact complement of the match set over the
    keys that matched step 1."""
    from flink_realtime_edu_spark.operators.cep import (
        cep_first_match,
        cep_timed_out,
    )

    rows = [
        # user 1: full chain inside 2h → NOT a timeout
        (0, "2024-01-01 00:00:00", 1, "view"),
        (1, "2024-01-01 00:30:00", 1, "click"),
        (2, "2024-01-01 01:00:00", 1, "purchase"),
        # user 2: click before any view, view then nothing → stalls at 1
        (3, "2024-01-01 00:00:00", 2, "click"),
        (4, "2024-01-01 01:00:00", 2, "view"),
        # user 3: completes but the purchase lands after the horizon
        (5, "2024-01-01 00:00:00", 3, "view"),
        (6, "2024-01-01 00:30:00", 3, "click"),
        (7, "2024-01-01 04:00:00", 3, "purchase"),
        # user 4: never matches step 1 → no pattern started
        (8, "2024-01-01 00:00:00", 4, "click"),
        (9, "2024-01-01 00:10:00", 4, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type")
    steps = ["view", "click", "purchase"]

    out = {
        r.user_id: (
            r.start_ts.isoformat(),
            r.horizon_ts.isoformat(),
            r.matched_steps,
            r.last_matched_ts.isoformat(),
            r.awaiting,
        )
        for r in cep_timed_out(ev, steps, "2 hours").collect()
    }
    assert 1 not in out  # completed in time
    assert 4 not in out  # never started
    assert out[2] == (
        "2024-01-01T01:00:00",
        "2024-01-01T03:00:00",
        1,
        "2024-01-01T01:00:00",
        "click",
    )
    # user 3 matched view+click inside the horizon; the late purchase
    # is beyond it → partial of 2, awaiting 'purchase'
    assert out[3] == (
        "2024-01-01T00:00:00",
        "2024-01-01T02:00:00",
        2,
        "2024-01-01T00:30:00",
        "purchase",
    )

    # complement property: timeouts ∪ matches = keys with a step-1
    # event, and the two sets are disjoint
    started = {
        r.user_id
        for r in ev.filter(F.col("event_type") == steps[0])
        .select("user_id").distinct().collect()
    }
    matched = {
        r.user_id for r in cep_first_match(ev, steps, "2 hours").collect()
    }
    assert set(out) | matched == started
    assert set(out) & matched == set()


def test_cep_times_quantifier_semantics_and_flattened_equivalence(
    spark, sf_dir
):
    """times(n) semantics on a hand-built sequence (three clicks then
    a purchase; too-few-clicks and out-of-order keys never fire; the
    horizon cuts late completions), plus the load-bearing property:
    the block-native plan (one dense_rank window per block) is
    row-identical to cep_first_match over the FLATTENED step list on
    real data."""
    from flink_realtime_edu_spark.operators.cep import (
        cep_first_match,
        cep_times,
    )

    rows = [
        # user 1: clicks @0,1h,2h then purchase @3h → chain 0..3h
        (0, "2024-01-01 00:00:00", 1, "click"),
        (1, "2024-01-01 01:00:00", 1, "click"),
        (2, "2024-01-01 02:00:00", 1, "click"),
        (3, "2024-01-01 03:00:00", 1, "purchase"),
        # user 2: only two clicks → never fires
        (4, "2024-01-01 00:00:00", 2, "click"),
        (5, "2024-01-01 01:00:00", 2, "click"),
        (6, "2024-01-01 02:00:00", 2, "purchase"),
        # user 3: purchase BEFORE the third click → no completion
        (7, "2024-01-01 00:00:00", 3, "click"),
        (8, "2024-01-01 01:00:00", 3, "click"),
        (9, "2024-01-01 02:00:00", 3, "purchase"),
        (10, "2024-01-01 03:00:00", 3, "click"),
        # user 4: completes but only at 30h — horizon-sensitive
        (11, "2024-01-01 00:00:00", 4, "click"),
        (12, "2024-01-01 01:00:00", 4, "click"),
        (13, "2024-01-01 02:00:00", 4, "click"),
        (14, "2024-01-02 06:00:00", 4, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type")
    blocks = [("click", 3), ("purchase", 1)]

    got = {
        r.user_id: (r.start_ts.isoformat(), r.end_ts.isoformat(), r.duration_s)
        for r in cep_times(ev, blocks, "24 hours").collect()
    }
    assert got == {
        1: ("2024-01-01T00:00:00", "2024-01-01T03:00:00", 10800.0)
    }
    got48 = {r.user_id for r in cep_times(ev, blocks, "48 hours").collect()}
    assert got48 == {1, 4}

    # Equivalence with the flattened chain on real data (sf0.001).
    real = load(spark, sf_dir, "events")
    a = sorted(map(tuple, cep_times(real, blocks, "96 hours").collect()))
    b = sorted(
        map(
            tuple,
            cep_first_match(
                real, ["click", "click", "click", "purchase"], "96 hours"
            ).collect(),
        )
    )
    assert a == b and len(a) > 0

    with pytest.raises(ValueError, match=">= 2 total events"):
        cep_times(ev, [("click", 1)], "1 hour")
    with pytest.raises(ValueError, match="count must be >= 1"):
        cep_times(ev, [("click", 0), ("purchase", 2)], "1 hour")


def test_ivf_append_assigns_and_search_finds_delta_vectors(spark, sf_dir):
    """Incremental IVF: appended vectors land in valid cluster lists
    (argmin-L2 of the SAME metric the fitted quantizer uses), search
    over base ∪ delta answers k for every query, delta vectors are
    reachable as neighbors, and recall matches the full-rebuild index
    on the same data."""
    from flink_realtime_edu_spark.operators.similarity import (
        cosine_topk,
        ivf_append,
        ivf_cosine_topk,
        ivf_incremental_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    queries = emb.filter(F.col("vec_id") < 10)
    k = 5

    # append layout: every delta vector assigned exactly once, to a
    # real cluster id
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = base.select("vec_id", array_to_vector("embedding").alias("features"))
    model = KMeans(k=16, seed=42, maxIter=10).fit(train)
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    appended = ivf_append(delta, centers).collect()
    assert len(appended) == delta.count()
    assert all(0 <= r.cluster < 16 for r in appended)
    # assignment agrees with the quantizer's own transform
    want = {
        r.vec_id: r.prediction
        for r in model.transform(
            delta.select("vec_id", array_to_vector("embedding").alias("features"))
        ).collect()
    }
    assert {r.nid: r.cluster for r in appended} == want

    inc = ivf_incremental_topk(base, delta, queries, k=k)
    got = inc.collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, []).append(r.nid)
    assert all(len(v) == k for v in per_q.values())
    assert len(per_q) == queries.count()
    # delta ids are reachable as neighbors somewhere in the results
    assert any(nid % 10 == 7 for v in per_q.values() for nid in v)

    # recall parity with a full rebuild on the identical data
    def recall(ann):
        exact = cosine_topk(emb, queries, k=k)
        hit = ann.select("qid", "nid").join(
            exact.select("qid", "nid"), on=["qid", "nid"], how="left_semi"
        )
        return hit.count() / (queries.count() * k)

    r_inc = recall(inc)
    r_full = recall(ivf_cosine_topk(emb, queries, k=k))
    assert r_inc >= r_full - 0.25  # same ballpark; quantizer unfit on delta
    assert r_inc >= 0.35


def test_cep_all_matches_dedup_cap_and_validation(spark):
    """cep_all_matches edge semantics: (a) ambiguous block assignment
    for ADJACENT same-type blocks dedups to distinct event SETS;
    (b) the per-key cap keeps the lexicographically-first chains;
    (c) quantifier/cap validation raises."""
    import pytest

    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rows = [
        (0, "2024-01-01 00:00:01", 1, "A"),
        (1, "2024-01-01 00:00:02", 1, "A"),
        # duplicate (key, type, ts) triple — must collapse
        (2, "2024-01-01 00:00:02", 1, "A"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
    )
    # (A,1,2)(A,0,1): chains {1s}, {2s}, {1s,2s} — the two-event chain
    # arises from TWO block assignments (2+0 and 1+1) but is ONE match
    out = cep_all_matches(
        ev, [("A", 1, 2), ("A", 0, 1)], "1 hour"
    ).orderBy("match_no").collect()
    one_user = [(r.n_events, r.match_no) for r in out]
    assert one_user == [(1, 1), (2, 2), (1, 3)]
    assert [r.chain_str.count("|") + 1 for r in out] == [1, 2, 1]

    capped = cep_all_matches(
        ev, [("A", 1, 2), ("A", 0, 1)], "1 hour", max_matches_per_key=2
    ).orderBy("match_no").collect()
    assert [(r.n_events, r.match_no) for r in capped] == [(1, 1), (2, 2)]

    with pytest.raises(ValueError, match="first block"):
        cep_all_matches(ev, [("A", 0, 1), ("A", 1, 1)], "1 hour")
    with pytest.raises(ValueError, match="max"):
        cep_all_matches(ev, [("A", 2, 1)], "1 hour")
    with pytest.raises(ValueError, match="total possible"):
        cep_all_matches(ev, [("A", 1, 1)], "1 hour")
    with pytest.raises(ValueError, match="max_matches_per_key"):
        cep_all_matches(ev, [("A", 1, 2)], "1 hour", max_matches_per_key=0)


def test_cep_valued_mode_excludes_null_values(spark):
    """The valued-mode event identity EXCLUDES NULL-valued rows on
    both engines (ADVICE r10): a (key, type, ts) triple with some
    non-null duplicates resolves to MIN of the non-nulls, and a
    triple whose every value is NULL is not a valued event at all —
    it can neither seed nor extend a conditioned chain (batch would
    otherwise poison vsum; the streaming NFA would crash coercing
    None)."""
    from flink_realtime_edu_spark.operators.cep import cep_all_matches

    rows = [
        (0, "2024-01-01 00:00:01", 1, "click", 5.0),
        (1, "2024-01-01 00:00:02", 1, "click", None),  # all-NULL triple
        (2, "2024-01-01 00:00:03", 1, "purchase", 9.0),
        (3, "2024-01-01 00:00:03", 1, "purchase", None),  # mixed dup
        (4, "2024-01-01 00:00:01", 2, "click", None),  # NULL seed
        (5, "2024-01-01 00:00:02", 2, "purchase", 9.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, "
        "event_type string, value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    out = cep_all_matches(
        ev,
        [("click", 1, 2), ("purchase", 1, 1)],
        "1 hour",
        conditions={2: "__v > vmax"},
    ).collect()
    # user 1: the NULL click at :02 is NOT an event, so the only
    # chain is click@:01 -> purchase@:03 with __v = MIN(non-null) = 9
    # satisfying 9 > 5; user 2's only click is all-NULL -> no seed.
    assert [(r.user_id, r.n_events) for r in out] == [(1, 2)]


def test_cep_unbounded_until_greedy_validation(spark):
    """Parameter contracts for the unbounded-loop surface: until only
    on unbounded blocks, no iterative conditions there, greedy only
    on unbounded non-last blocks, greedy+consecutive rejected, and the
    walk strategies reject unbounded blocks."""
    import pytest

    from flink_realtime_edu_spark.operators.cep import (
        cep_after_match_skip,
        cep_all_matches,
    )

    rows = [
        (i, f"2024-01-01 00:00:{i:02d}", 1, "click", 1.0) for i in range(6)
    ] + [(9, "2024-01-01 00:00:09", 1, "purchase", 1.0)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    loop = [("click", 1, None), ("purchase", 1, 1)]
    with pytest.raises(ValueError, match="until applies only"):
        cep_all_matches(ev, loop, "1 hour", until={2: "__v > 1"})
    with pytest.raises(ValueError, match="not supported on unbounded"):
        cep_all_matches(ev, loop, "1 hour", conditions={1: "__v > vsum"})
    with pytest.raises(ValueError, match="greedy applies only"):
        cep_all_matches(ev, loop, "1 hour", greedy={2})
    with pytest.raises(ValueError, match="last element"):
        cep_all_matches(ev, [("a", 1, 1), ("b", 1, None)], "1 hour",
                        greedy={2})
    with pytest.raises(ValueError, match="greedy \\+ consecutive"):
        cep_all_matches(ev, loop, "1 hour", greedy={1}, consecutive={1})
    with pytest.raises(ValueError, match="supported through cep_all_matches"):
        cep_after_match_skip(ev, loop, "1 hour", strategy="skip_to_next")
    out = cep_all_matches(
        ev,
        loop,
        "1 hour",
        until={1: "__v > 0.5"},  # every click is a stop -> no loop seeds
    ).collect()
    assert out == []


def test_cep_group_times_all_or_nothing(spark):
    """Pattern GROUPS semantics: (A -> B).times(1, 2) accepts one or
    two FULL passes over the sub-sequence and nothing in between —
    A B A (a half second repetition) and A B B (which per-block
    flattening into A B A? B? would wrongly accept) must NOT add
    matches beyond their A B prefixes, while A B A B yields the full
    4-event chain plus every 1-repetition sub-match; chains reachable
    at several repeat counts dedup by event set."""
    from flink_realtime_edu_spark.operators.cep import cep_group_times

    def ev_of(seq):
        rows = [
            (i, f"2024-01-01 00:00:{i:02d}", 1, t)
            for i, t in enumerate(seq, start=1)
        ]
        return spark.createDataFrame(
            rows,
            "event_id long, ts_s string, user_id long, event_type string",
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id",
            "event_type",
        )

    group = [("A", 1, 1), ("B", 1, 1)]

    def lens(seq):
        out = cep_group_times(ev_of(seq), group, (1, 2), "1 hour").collect()
        return sorted(r.n_events for r in out)

    # A B A: only the A..B 1-rep chains (A1 B2, A3 cannot finish)
    assert lens(["A", "B", "A"]) == [2]
    # A B B: 1-rep chains only — A1B2 and A1B3 (relaxed contiguity)
    assert lens(["A", "B", "B"]) == [2, 2]
    # A B A B: four 1-rep chains (A1B2, A1B4, A3B4 — A1 pairs with
    # either B, A3 with B4) plus exactly one full 2-rep chain
    assert lens(["A", "B", "A", "B"]) == [2, 2, 2, 4]

    import pytest

    with pytest.raises(ValueError, match="1 <= m <= n"):
        cep_group_times(ev_of(["A", "B"]), group, (0, 2), "1 hour")
    with pytest.raises(ValueError, match="unbounded blocks inside"):
        cep_group_times(
            ev_of(["A", "B"]), [("A", 1, None), ("B", 1, 1)], (1, 2), "1 hour"
        )


def test_cep_condition_compiler_grammar():
    """The shared restricted-grammar compiler (one spec string drives
    both engines): SQL spellings (=, <>, AND/OR/NOT, TRUE/FALSE) map
    onto Python semantics, identifiers are positional, and anything
    outside the grammar — calls, attributes, subscripts, unknown
    names — raises at COMPILE time instead of evaluating."""
    import pytest

    from flink_realtime_edu_spark.operators.cep import (
        compile_condition,
        compile_stop,
    )

    c = compile_condition("__v > vsum / vcnt AND NOT (vmin = vmax)")
    assert c(5.0, 6.0, 2, 1.0, 4.0) is True   # 5 > 3 and 1 != 4
    assert c(2.0, 6.0, 2, 1.0, 4.0) is False  # 2 > 3 fails
    assert c(5.0, 6.0, 2, 3.0, 3.0) is False  # vmin = vmax
    s = compile_stop("__v > 200 OR event_type = 'error'")
    assert s(300.0, "view") and s(10.0, "error") and not s(10.0, "view")
    assert compile_stop("event_type <> 'x'")(0.0, "y") is True
    assert compile_condition("TRUE")(0, 0, 0, 0, 0) is True
    for bad in (
        "__import__('os').system('x')",
        "__v > unknown_name",
        "(lambda: 1)()",
        "__v.__class__",
        "[1][0]",
    ):
        with pytest.raises((ValueError, SyntaxError)):
            compile_condition(bad)


def test_semantic_dedup_blocks_transitivity_and_singletons(spark):
    """SemDeDup contract on a constructed corpus: (a) pairs form only
    WITHIN a block — identical vectors in different blocks both
    survive; (b) components are transitive — a chain 1~2~3 where the
    1–3 cosine is BELOW threshold still collapses to one survivor via
    2; (c) singletons keep themselves as their own cluster."""
    from flink_realtime_edu_spark.operators.similarity import semantic_dedup

    rows = [
        (1, 1, [1.0, 0.0, 0.0, 0.0]),
        (2, 1, [1.0, 0.05, 0.0, 0.0]),   # cos(1,2) ≈ 0.99875
        (3, 1, [1.0, 0.1, 0.0, 0.0]),    # cos(2,3) ≈ 0.99876, cos(1,3) ≈ 0.99504
        (4, 2, [1.0, 0.0, 0.0, 0.0]),    # identical to 1 but another block
        (5, 1, [0.0, 1.0, 0.0, 0.0]),    # orthogonal singleton
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    got = {
        r.vec_id: (r.sem_cluster, r.keep)
        for r in semantic_dedup(corpus, "label", threshold=0.998).collect()
    }
    assert got == {
        1: (1, True),   # survivor of the 1-2-3 chain
        2: (1, False),
        3: (1, False),  # linked to 1 only THROUGH 2 (cos(1,3) < 0.998)
        4: (4, True),   # same direction as 1, different block → untouched
        5: (5, True),   # singleton
    }


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR property (Xie et al. 2023): a raw doc written in the
    target distribution's bigrams outscores raw docs written in the
    raw distribution's bigrams, targets themselves score highest, and
    n_feats counts bigram tokens (docs under 2 tokens drop out)."""
    from flink_realtime_edu_spark.queries.training import dsir_weights

    rows = [
        (1, "tgt", "alpha beta alpha beta alpha beta"),
        (2, "tgt", "alpha beta gamma alpha beta"),
        (3, "raw", "noise junk noise junk noise junk"),
        (4, "raw", "junk noise junk noise"),
        (5, "raw", "alpha beta alpha beta"),  # target-like content, raw source
        (6, "raw", "single"),                 # < 2 tokens → no bigram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: r
        for r in dsir_weights(docs, F.col("source") == "tgt").collect()
    }
    assert 6 not in got and len(got) == 5
    assert got[5].log_weight > got[3].log_weight
    assert got[5].log_weight > got[4].log_weight
    assert got[1].target_like and got[5].target_like
    assert not got[3].target_like and not got[4].target_like
    assert got[1].n_feats == 5 and got[5].n_feats == 3


def test_quality_classifier_loss_nonincreasing(spark, sf_dir):
    """VERDICT r10 item 2's done-bar: over the quantized fit's weight
    snapshots w0..wT, the full-batch logistic loss is non-increasing
    at every step and strictly below the ln2 start by the end —
    full-batch gradient descent with η=_QC_ETA=1.0 on normalized
    features is inside the monotone-descent region (logistic Hessian
    norm ≤ 1/2 there, so any η<4 is monotone — training.py:411), and
    the micro-unit quantization must not break that."""
    import math

    from flink_realtime_edu_spark.queries.training import (
        _DSIR_TARGET,
        quality_classifier_fit,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    snaps, qdf, n_docs = quality_classifier_fit(
        docs, F.col("source").isin(*_DSIR_TARGET)
    )
    assert len(snaps) == 7 and n_docs > 0

    def loss(wsnap):
        wdf = spark.createDataFrame(list(enumerate(wsnap)), "f long, w long")
        z = (
            qdf.join(F.broadcast(wdf), "f")
            .groupBy("doc_id")
            .agg(
                F.max("y").alias("y"),
                F.sum(F.col("q") * F.col("w")).alias("z"),
            )
        )
        yy = F.col("y") / F.lit(500000.0) - F.lit(1.0)  # micro label → ±1
        zz = F.col("z").cast("double") / F.lit(1.0e12)
        return z.agg(
            F.avg(F.log(F.lit(1.0) + F.exp(-yy * zz)))
        ).collect()[0][0]

    losses = [loss(s) for s in snaps]
    assert abs(losses[0] - math.log(2.0)) < 1e-12  # w0 = 0 ⇒ ln 2
    for prev, cur in zip(losses, losses[1:]):
        assert cur <= prev + 1e-12, losses
    assert losses[-1] < losses[0]


def test_quality_classifier_separates_disjoint_vocabularies(spark):
    """On a corpus whose target and raw docs share NO bigrams, the
    fitted gate classifies every document correctly and probabilities
    order the right way — the minimal learnability check."""
    from flink_realtime_edu_spark.queries.training import (
        quality_classifier_fit,
    )

    rows = [
        (i, "tgt", "alpha beta gamma alpha beta gamma") for i in range(1, 7)
    ] + [
        (i, "raw", "noise junk spam noise junk spam") for i in range(7, 13)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    snaps, qdf, _ = quality_classifier_fit(docs, F.col("source") == "tgt")
    wdf = spark.createDataFrame(list(enumerate(snaps[-1])), "f long, w long")
    scored = (
        qdf.join(F.broadcast(wdf), "f")
        .groupBy("doc_id")
        .agg(F.max("y").alias("y"), F.sum(F.col("q") * F.col("w")).alias("z"))
        .collect()
    )
    for r in scored:
        if r.y == 1000000:
            assert r.z > 0, r
        else:
            assert r.z < 0, r


def test_quality_classifier_heldout_eval_invariants(spark, sf_dir):
    """Structural invariants of the rate-gate evaluation (corpus
    lift is data-dependent and NOT asserted — see the query's honest
    docstring): kept_n is the exact integer rank cutoff, confusion
    identities hold, recall and kept_n are monotone in keep_pct, and
    two evaluations agree exactly (hash split + total-order gate ⇒
    deterministic)."""
    from flink_realtime_edu_spark.queries import load_registry

    build = load_registry()["quality_classifier_heldout_eval"].build
    rows = {r.keep_pct: r for r in build(spark, sf_dir).collect()}
    assert sorted(rows) == [10, 25, 50]
    n_pos = {r.tp + r.fn for r in rows.values()}
    assert len(n_pos) == 1  # same positive count at every rate
    n_pos = n_pos.pop()
    prev_kept, prev_recall = -1, -1.0
    for pct in (10, 25, 50):
        r = rows[pct]
        assert r.fp == r.kept_n - r.tp and 0 <= r.tp <= min(r.kept_n, n_pos)
        assert r.kept_n > prev_kept
        if r.recall_ is not None:
            assert r.recall_ >= prev_recall
            prev_recall = r.recall_
        prev_kept = r.kept_n
    again = {r.keep_pct: tuple(r) for r in build(spark, sf_dir).collect()}
    assert again == {p: tuple(r) for p, r in rows.items()}


def _plan_nodes(df) -> list[str]:
    """Class names of ``df``'s executed physical plan, walked into
    adaptive query stages but not into a cached relation's plan or
    behind a reused exchange: the operators this query runs itself."""
    names, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        names.append(name)
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return names


def test_quality_classifier_steps_match_duckdb_chain(spark, sf_dir):
    """The fit's update runs on the driver: every snapshot w1..w6
    equals the oracle's w1..w6 CTE of _qc_cte_chain(), step by step,
    not only through the final scores."""
    from flink_realtime_edu_spark.queries.training import (
        _DSIR_TARGET,
        _QC_STEPS,
        _qc_cte_chain,
        quality_classifier_fit,
    )
    from tests.oracle import duck_connection

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    snaps, _qdf, _n = quality_classifier_fit(
        docs, F.col("source").isin(*_DSIR_TARGET)
    )
    steps = " UNION ALL ".join(
        f"SELECT {t} AS t, f, w FROM w{t}" for t in range(1, _QC_STEPS + 1)
    )
    con = duck_connection(sf_dir)
    rows = con.execute(f"WITH {_qc_cte_chain()} {steps}").fetchall()
    con.close()
    duck = [[None] * len(snaps[0]) for _ in range(_QC_STEPS + 1)]
    for t, f, w in rows:
        duck[t][f] = w
    for t in range(1, _QC_STEPS + 1):
        assert snaps[t] == duck[t], t
    assert any(snaps[-1])


def test_round_half_away_matches_spark_and_duckdb_round(spark):
    """_round_half_away(x) is the ROUND(x, 0) the fit's update used to
    run in Spark and the oracle runs in DuckDB: ±k.5 ties, their
    nextafter neighbours, and |x| ≥ 2^52, where every double is an
    integer."""
    import math

    import duckdb

    from flink_realtime_edu_spark.queries.training import _round_half_away

    xs = []
    for k in (0, 1, 2, 3, 7, 100, 4095, 2**20 + 3, 2**51 - 1):
        tie = k + 0.5
        xs += [tie, math.nextafter(tie, 0.0), math.nextafter(tie, math.inf)]
    xs += [2.0**52, 2.0**52 + 1, 2.0**53, 2.0**53 + 2, 2.0**60 + 2**8, 2.0**62]
    xs += [-x for x in xs] + [0.49999999999999994, 1e-300, 0.0]
    want = [_round_half_away(x) for x in xs]
    sdf = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    got = [
        r.r
        for r in sdf.select("i", F.round("x", 0).cast("long").alias("r"))
        .orderBy("i")
        .collect()
    ]
    assert got == want
    con = duckdb.connect()
    duck = [
        con.execute("SELECT CAST(ROUND(?::DOUBLE, 0) AS BIGINT)", [x]).fetchone()[0]
        for x in xs
    ]
    con.close()
    assert duck == want


def test_quality_classifier_step_plan_and_pins(spark, sf_dir):
    """One fit step is one exchange (the 4097-group gradient) and no
    broadcast: the model rides in as a literal, and the doc_id window
    reads the pinned frame's own partitioning. A whole
    quality_classifier_scores build plus collect pins at most one
    frame, the feature frame."""
    from flink_realtime_edu_spark.queries import load_registry
    from flink_realtime_edu_spark.queries.training import (
        _DSIR_TARGET,
        _qc_gradient,
        quality_classifier_fit,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    snaps, qdf, _n = quality_classifier_fit(
        docs, F.col("source").isin(*_DSIR_TARGET)
    )
    step = _qc_gradient(qdf, snaps[1])
    step.collect()
    nodes = _plan_nodes(step)
    assert nodes.count("ShuffleExchangeExec") == 1, nodes
    assert "BroadcastExchangeExec" not in nodes, nodes

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    load_registry()["quality_classifier_scores"].build(
        spark, sf_dir
    ).collect()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert len(after - before) <= 1, sorted(after - before)


def test_qc_evals_leave_the_cache_manager_unchanged(spark, sf_dir):
    """The held-out and planted evaluations return a table of driver
    values, so nothing reads the fit's pinned feature frame once the
    fit is done: a build plus collect of either leaves no entry in the
    CacheManager."""
    from flink_realtime_edu_spark.queries import load_registry

    cache = spark._jsparkSession.sharedState().cacheManager()
    registry = load_registry()
    for name in ("quality_classifier_heldout_eval", "quality_classifier_planted_eval"):
        before = cache.numCachedEntries()
        registry[name].build(spark, sf_dir).collect()
        assert cache.numCachedEntries() == before, name


def test_qc_features_scan_the_corpus_once(spark, sf_dir):
    """qc_quantized_features tokenizes the corpus once: its base and
    intercept rows come from one count frame, so the executed plan
    scans ``documents`` exactly once (no second, non-reused branch)."""
    from flink_realtime_edu_spark.queries.training import qc_quantized_features

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    q = qc_quantized_features(docs)
    rows = q.collect()
    assert rows
    assert _plan_nodes(q).count("FileSourceScanExec") == 1
    # exactly one intercept row per featured doc
    bias = [r.doc_id for r in rows if r.f == 4096]
    assert sorted(bias) == sorted({r.doc_id for r in rows})


def test_dsir_gumbel_topk_deterministic_and_maximal(spark, sf_dir):
    """The Gumbel-top-k resampling pass is rerun-stable (hash-derived
    noise, no RNG state): two evaluations select the identical m-row
    set, the set is exactly the m LARGEST sample keys over the whole
    scored corpus, and every gumbel value is finite (the u → 1 ln
    clamp)."""
    import math

    from flink_realtime_edu_spark.queries import load_registry

    build = load_registry()["dsir_gumbel_topk"].build
    a = sorted(map(tuple, build(spark, sf_dir).collect()))
    b = sorted(map(tuple, build(spark, sf_dir).collect()))
    assert a == b and len(a) == 20
    assert all(math.isfinite(r[2]) for r in a)

    from flink_realtime_edu_spark.queries.training import (
        _DSIR_TARGET,
        dsir_weights,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = dsir_weights(docs, F.col("source").isin(*_DSIR_TARGET))
    # Recompute every doc's sample key with the query's own noise
    # formula and assert the selected 20 are exactly the global
    # maxima under the (key DESC, doc_id ASC) order.
    from flink_realtime_edu_spark.operators.dedup import md5_hash60

    u = (
        md5_hash60(F.concat(F.lit("gmb:"), F.col("doc_id"))) + F.lit(1.0)
    ) / F.lit(1152921504606846978.0)
    inner = F.least(F.round(F.log(u), 6), F.lit(-0.000001))
    g = F.round(-F.log(-inner), 6)
    all_keys = [
        (r.k, r.doc_id)
        for r in scored.select(
            "doc_id", F.round(F.col("log_weight") + g, 6).alias("k")
        ).collect()
    ]
    expected = sorted(all_keys, key=lambda t: (-t[0], t[1]))[:20]
    got_pairs = sorted(
        ((r[3], r[0]) for r in a), key=lambda t: (-t[0], t[1])
    )
    assert got_pairs == expected


def test_trigram_perplexity_matches_pure_python_model(spark, tmp_path):
    """Pin the interpolated-trigram semantics against a from-scratch
    pure-Python reference on a tiny constructed corpus — independent
    of BOTH engines (the oracle cross-checks DuckDB; this cross-checks
    the model itself): corpus counts, fixed-λ interpolation, integer
    micro-nat mean, and the <3-token exclusion."""
    import math
    from collections import Counter

    texts = {
        1: "a b c a b c a b",
        2: "b c a a a b",
        3: "x y",          # 2 tokens -> no trigram, excluded
        4: "c a b c",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    src = tmp_path / "tri_docs"
    docs.write.parquet(str(src))
    # build the registered query against a fake sf_dir layout
    import shutil

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.move(str(src), str(sf_dir / "documents.parquet"))

    from flink_realtime_edu_spark.queries import load_registry

    got = {
        r.doc_id: r
        for r in load_registry()["doc_trigram_perplexity"]
        .build(spark, str(sf_dir))
        .collect()
    }
    assert set(got) == {1, 2, 4}

    # pure-python reference
    toks = {i: t.split() for i, t in texts.items()}
    c123, c23, c3 = Counter(), Counter(), Counter()
    for w in toks.values():
        c3.update(w)
        c23.update(zip(w, w[1:]))
        c123.update(zip(w, w[1:], w[2:]))
    c12 = Counter()
    for (w1, w2, w3), c in c123.items():
        c12[(w1, w2)] += c
    c2 = Counter()
    for (w2, w3), c in c23.items():
        c2[w2] += c
    n = sum(c3.values())
    for i, w in toks.items():
        tris = list(zip(w, w[1:], w[2:]))
        if not tris:
            continue
        s_u = 0
        for t in tris:
            p = (
                0.5 * c123[t] / c12[t[:2]]
                + 0.3 * c23[t[1:]] / c2[t[1]]
                + 0.2 * c3[t[2]] / n
            )
            u = -math.log(p) * 1e6
            s_u += math.floor(u + 0.5) if u >= 0 else -math.floor(-u + 0.5)
        nt = len(tris)
        mean_u = (2 * s_u + nt) // (2 * nt)
        mean = mean_u / 1e6
        assert got[i].n_trigrams == nt, i
        assert got[i].mean_nll_nats == mean, (i, got[i].mean_nll_nats, mean)
        assert abs(got[i].perplexity - round(math.exp(mean), 6)) < 1e-9, i
