"""Product quantization (PQ) ANN — the compressed-domain third scale
path next to LSH and IVF (both operators/similarity.py). SURVEY.md
§2.10 X6.

Method (Jégou, Douze, Schmid — "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI 2011, public): split each vector into
``m`` subvectors, vector-quantize every subspace against its own
``k``-entry codebook, and score a query against the CODES via a
per-query (m × k) lookup table instead of the raw floats. Memory per
vector drops from dim×4 bytes to m bytes (64-dim float32 → 8 bytes at
m=8: 32×), which is what makes a 100 TB embedding corpus scannable
from RAM/SSD.

Spark-first decomposition:

- **train** (:func:`pq_fit_sample`): codebooks come from Lloyd's over
  a DRIVER-SIZED deterministic sample (:func:`learning_sample`, the
  first ``sample_n`` ids) — the standard PQ practice (FAISS trains PQ
  on a learning subset, not the corpus); at 100 TB a full-corpus fit
  would re-scan everything m×iters times for codebooks a 4096-row
  sample estimates just as well. All numpy, one collect job,
  bit-deterministic (ordered sample, fixed init = first k sample
  rows per subspace). The IVF coarse quantizer
  (operators/similarity._ivf_fit_assign) trains on the same sample
  with the same :func:`_lloyd_numpy`.
- **encode + score** (:func:`pq_adc_topk`): ONE ``mapInPandas`` scan
  of the corpus. Per Arrow batch: unit-normalize, per-subspace L2
  argmin against the broadcast codebooks (ties → lowest code id),
  then asymmetric-distance scoring — approx cos(q, x) ≈
  Σ_m LUT_q[m, code_m(x)] with LUT_q[m, j] = <q_m / |q|, c_mj> —
  a pure table gather, no per-pair float math. Each batch emits only
  its local top-k per query (same rounded-score/nid comparator as
  the global rank, so winners always survive), and the final
  WindowExec ranks ~k·n_partitions rows per query. Embarrassingly
  parallel; the only shuffle is the tiny top-k merge.

Like the LSH/IVF paths the raw neighbor sets are index-specific, so
the registered query (queries/similarity.py::pq_ann_topk) carries the
tolerance-oracle recall contract, with exact recall floors pinned in
tests/test_operators.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _lloyd_numpy(x: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic local Lloyd's: init = first k rows, ties → lowest
    centroid id, empty clusters keep their previous centroid."""
    cent = x[:k].astype(np.float64).copy()
    xsq = np.einsum("nd,nd->n", x, x)[:, None]
    for _ in range(iters):
        d2 = xsq - 2.0 * (x @ cent.T) + np.einsum("kd,kd->k", cent, cent)[None, :]
        assign = np.argmin(d2, axis=1)
        # Vectorized update (a per-cluster mask loop is 256× slower):
        # scatter-add rows into their cluster, divide by counts.
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, x)
        nonempty = counts > 0
        cent[nonempty] = sums[nonempty] / counts[nonempty, None]
    return cent


def learning_sample(
    df: DataFrame,
    k: int,
    sample_n: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """THE learning subset every quantizer trains on: the first
    ``sample_n`` vectors by id as a (n, dim) float64 matrix — one
    ordered top-n collect, so fits are deterministic under any
    partitioning. A ``k``-centroid fit needs at least k rows."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    x = np.array([r[1] for r in rows], dtype=np.float64)
    if len(x) < k:
        raise ValueError(f"k={k} but sample has only {len(x)} rows")
    return x


def pq_fit_sample(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 8,
    sample_n: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks on the first ``sample_n`` vectors by id
    (deterministic learning subset): returns (m, k, dim//m) float64.
    Vectors are unit-normalized before splitting, so codebooks live
    in the same space the scorer operates in (cosine via inner
    product on normalized vectors)."""
    x = learning_sample(df, k, sample_n, id_col, vec_col)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    d_sub = dim // m
    return np.stack(
        [
            _lloyd_numpy(x[:, i * d_sub : (i + 1) * d_sub], k, iters)
            for i in range(m)
        ]
    )


def pq_encode_batch(cmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, dim) unit-normalized batch → (n, m) uint8 codes; per
    subspace L2 argmin (ties → lowest code id)."""
    m, k, d_sub = codebooks.shape
    codes = np.empty((cmat.shape[0], m), dtype=np.uint8)
    for i in range(m):
        sub = cmat[:, i * d_sub : (i + 1) * d_sub]
        cb = codebooks[i]
        d2 = (
            np.einsum("nd,nd->n", sub, sub)[:, None]
            - 2.0 * (sub @ cb.T)
            + np.einsum("kd,kd->k", cb, cb)[None, :]
        )
        codes[:, i] = np.argmin(d2, axis=1)
    return codes


def normalize_rows(mat: np.ndarray) -> np.ndarray:
    """Unit-normalize matrix rows (the shared cosine-space projection;
    zero rows map to zero, not NaN)."""
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


def pq_fit_sample_residual(
    df: DataFrame,
    centers: np.ndarray,
    m: int = 8,
    k: int = 16,
    iters: int = 8,
    sample_n: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Residual-PQ training (Jégou et al. 2011 §V / FAISS IndexIVFPQ;
    VERDICT r11 item 3): codebooks quantize the RESIDUAL of each
    unit-normalized vector against its IVF cluster's unit-normalized
    centroid, instead of the raw unit vector. The theory: residuals
    concentrate near zero within a cluster, so the same k codes cover
    a tighter cloud → sharper ADC. MEASURED on this repo's synthetic
    near-uniform corpus it does NOT win — ADC-only recall@5 is
    0.70/0.64/0.62 (sf0.001/0.01/0.1) vs 0.72/0.76/0.66 raw, parity
    after the exact rerank (re-measured with the sample-fit IVF
    quantizer, whose first-16-ids init holds the 10 query vectors;
    BASELINE.md r12 has the first A/B) — because k=256 codes over
    4-dim subspaces already quantize unit vectors finely; raw
    stays the default and this path ships flag-gated for corpora
    with real cluster structure. The exact inner-product identity
    the scorer uses: with x̂ = ĉ_i + r, cos(q, x) = <q̂, ĉ_i> + <q̂, r>, so the
    per-(query, cluster) bias <q̂, ĉ_i> is added at score time and
    the LUT gather covers only the residual term — LUTs stay
    query-global (no C× LUT blow-up; the bias is a (nq × C) matrix).

    Same driver-sized deterministic learning subset as
    :func:`pq_fit_sample`; sample→cluster assignment uses the IVF
    metric (L2 argmin on the RAW vector, matching
    operators.similarity.ivf_append). Returns (codebooks,
    centers_norm); pass BOTH to pq_encode_index/ivfpq_topk — encode
    and search must share centers_norm or scores are garbage."""
    x_raw = learning_sample(df, k, sample_n, id_col, vec_col)
    dim = x_raw.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    centers_norm = normalize_rows(np.asarray(centers, dtype=np.float64))
    d2 = ((x_raw[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    assign = np.argmin(d2, axis=1)
    resid = normalize_rows(x_raw) - centers_norm[assign]
    d_sub = dim // m
    codebooks = np.stack(
        [
            _lloyd_numpy(resid[:, i * d_sub : (i + 1) * d_sub], k, iters)
            for i in range(m)
        ]
    )
    return codebooks, centers_norm


def pq_encode_index(
    index: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "cv",
    code_col: str = "code",
    cluster_col: str = "cluster",
    centers_norm: np.ndarray | None = None,
) -> DataFrame:
    """Encode ONCE at index build/append time (VERDICT r11 item 2 —
    PQ codes at rest): adds an m-byte ``binary`` code column next to
    the float vectors. The parquet layout this feeds is columnar, so
    the ADC scan that selects (nid, cluster, code) never READS the
    float column — 16 bytes/vector instead of 256 at m=16/dim=64
    float32 — while the shortlist rerank still fetches floats by nid
    from the same files. One vectorized Arrow pass, embarrassingly
    parallel, no shuffle.

    With ``centers_norm`` (from :func:`pq_fit_sample_residual`) the
    codes quantize per-cluster residuals; the cluster column must be
    the IVF assignment the residual was trained against."""
    from pyspark.sql.functions import pandas_udf

    cb = np.ascontiguousarray(codebooks)
    if centers_norm is None:

        @pandas_udf("binary")
        def enc(vecs: pd.Series) -> pd.Series:
            if not len(vecs):
                return pd.Series([], dtype=object)
            cmat = normalize_rows(np.stack(vecs.to_numpy()).astype(np.float64))
            codes = pq_encode_batch(cmat, cb)
            return pd.Series([row.tobytes() for row in codes])

        return index.withColumn(code_col, enc(F.col(vec_col)))

    cn = np.ascontiguousarray(centers_norm)

    @pandas_udf("binary")
    def enc_res(vecs: pd.Series, clusters: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        cmat = normalize_rows(np.stack(vecs.to_numpy()).astype(np.float64))
        cmat = cmat - cn[clusters.to_numpy(dtype=np.int64)]
        codes = pq_encode_batch(cmat, cb)
        return pd.Series([row.tobytes() for row in codes])

    return index.withColumn(code_col, enc_res(F.col(vec_col), F.col(cluster_col)))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    rerank_r: int = 0,
    max_queries: int = 4096,
) -> DataFrame:
    """Approximate top-k neighbors by PQ asymmetric distance:
    (qid, nid, approx_cos), k rows per query, scores rounded to 6dp
    before ranking with an nid tie-break (deterministic under any
    partitioning: codes and LUTs are row-local, the comparator is a
    total order).

    The query set is collected to the driver (batch-scoring contract
    shared with cosine_topk — |Q| must be driver-sized) and turned
    into per-query (m × k) inner-product LUTs closed over by the one
    corpus scan. At scale the scan reads codes-at-rest (m bytes per
    vector) once encoded; here encoding rides the same pass to keep
    the gate single-job.

    ``rerank_r > k`` switches on the standard PQ refinement: the ADC
    pass keeps a top-``rerank_r`` shortlist per query, the shortlist
    (k·|Q| rows — tiny) joins back to the raw vectors, and exact
    rounded cosine re-ranks it down to k. One extra hash join sized
    by the shortlist, never the corpus; recall rises toward the
    shortlist's recall while the scan still reads only codes.

    NOTE on the returned schema: with ``rerank_r > 0`` the
    ``approx_cos`` column holds the EXACT rounded cosine from the
    refinement pass, not the ADC estimate — the name stays stable so
    ADC and reranked results are drop-in interchangeable downstream
    (both are "the score this index ranked by"); consumers that need
    to distinguish them must carry that flag themselves.

    ``max_queries`` guards the driver-side probe collect: the query
    frame is the top-k PROBE set, small by definition, and a caller
    passing a corpus-scale frame here would OOM the driver building
    the LUT tensor — raise early instead (the `sample_n` discipline
    of :func:`pq_fit_sample`). For corpus-scale query sets, self-join
    via LSH banding instead."""
    if rerank_r and rerank_r <= k:
        raise ValueError(
            f"rerank_r={rerank_r} must exceed k={k} (0 disables the rerank)"
        )
    keep = max(k, rerank_r)
    mq, kq, d_sub = codebooks.shape
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"query frame exceeds max_queries={max_queries}; the PQ probe "
            "set must be driver-sized — raise max_queries deliberately or "
            "use an LSH band self-join for corpus-scale query sets"
        )
    if not q_rows:
        raise ValueError(
            "query frame is empty: the PQ probe needs at least one "
            "query vector (an empty probe set is a caller bug, not a "
            "zero-row result)"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
    # luts[j] : (m, k) — <q_m, c_mj> partial inner products.
    luts = np.stack(
        [
            np.einsum(
                "md,mkd->mk",
                q.reshape(mq, d_sub),
                codebooks,
            )
            for q in qmat
        ]
    )  # (nq, m, k)
    cb = np.ascontiguousarray(codebooks)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cmat = cmat / np.maximum(
                np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30
            )
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = pq_encode_batch(cmat, cb)  # (n, m)
            # gather: score[n, q] = sum_m luts[q, m, codes[n, m]]
            gathered = luts[:, np.arange(mq)[None, :], codes]  # (nq, n, m)
            score = gathered.sum(axis=2).T  # (n, nq)
            score = np.floor(np.abs(score) * 1e6 + 0.5) / 1e6 * np.sign(score)
            out_q, out_n, out_s = [], [], []
            for j in range(len(qids)):
                mask = nids != qids[j]
                sj, nj = score[mask, j], nids[mask]
                top = np.lexsort((nj, -sj))[:keep]
                out_q.append(np.full(len(top), qids[j]))
                out_n.append(nj[top])
                out_s.append(sj[top])
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    "nid": np.concatenate(out_n),
                    "approx_cos": np.concatenate(out_s),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, schema=f"{query_id_col} long, nid long, approx_cos double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_cos").desc(), F.col("nid")
    )
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= keep)
        .drop("rn")
    )
    if keep == k:
        return top
    return _exact_rerank(top, corpus, queries, k, id_col, vec_col, query_id_col)


def _exact_rerank(
    top: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Refinement shared by the PQ and IVF×PQ paths: exact rounded
    cosine over the ADC shortlist only (shortlist-sized join back to
    the raw vectors + broadcast query frame), re-ranked down to k."""
    from flink_realtime_edu_spark.operators.similarity import cosine_pair_udf

    qdf = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("qv")
    )
    cand = top.join(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("cv")),
        on="nid",
    ).join(F.broadcast(qdf), on=query_id_col)
    exact = cand.select(
        query_id_col,
        "nid",
        cosine_pair_udf()(F.col("qv"), F.col("cv")).alias("approx_cos"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_cos").desc(), F.col("nid")
    )
    return (
        exact.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _probe_assign(qmat: np.ndarray, centers: np.ndarray, n_probe: int) -> np.ndarray:
    """(nq, n_probe) nearest-centroid ids by L2 on the RAW query
    vectors — THE probe assignment, shared by ivfpq_topk and
    probed_clusters so file pruning and row masking can never drift
    apart (identical metric to _ivf_probe_search)."""
    d2 = ((qmat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    return np.argsort(d2, axis=1)[:, :n_probe]


def probed_clusters(
    queries: DataFrame,
    centers: np.ndarray,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 4096,
) -> list[int]:
    """The union of IVF cluster ids the query set probes — the SAME
    L2-argmin assignment ivfpq_topk/_ivf_probe_search apply, factored
    out so a caller holding a PARTITIONED index can prune files
    before the scan even plans (read_ivf_index(clusters=...)): at
    rest the index is bucketed by cluster hash, so knowing the probe
    union up front turns 'filter rows' into 'never list the files'.
    Driver-sized query contract as everywhere (max_queries guard)."""
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"query frame exceeds max_queries={max_queries}; the probe "
            "set must be driver-sized — see pq_adc_topk's contract"
        )
    if not q_rows:
        raise ValueError("query frame is empty — see ivfpq_topk's contract")
    qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    probed = _probe_assign(qmat, centers, n_probe)
    return sorted({int(c) for c in probed.ravel()})


def ivfpq_topk(
    assigned: DataFrame,
    centers: np.ndarray,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    rerank_r: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    max_queries: int = 4096,
    code_col: str = "code",
    centers_norm: np.ndarray | None = None,
) -> DataFrame:
    """IVF×PQ — the standard billion-vector composition (FAISS
    IndexIVFPQ shape; Jégou et al. 2011 §V): the IVF coarse quantizer
    prunes the corpus to each query's ``n_probe`` nearest cluster
    lists, PQ ADC scores the CODES inside those lists to a
    top-``rerank_r`` shortlist, and exact rounded cosine re-ranks the
    shortlist down to k.

    ``assigned`` is the IVF index layout (nid, cluster, cv[, code])
    from ``operators.similarity._ivf_fit_assign`` / ``ivf_append``,
    optionally pre-encoded by :func:`pq_encode_index`; ``centers``
    its (C, dim) centroid matrix; ``codebooks`` from
    :func:`pq_fit_sample` (or :func:`pq_fit_sample_residual`, in
    which case pass its ``centers_norm`` here too). Query→probe
    assignment happens driver-side on the collected (driver-sized,
    ``max_queries``-guarded) query set with the same L2-argmin metric
    the IVF search path uses.

    Scale shape (VERDICT r11 item 2 — codes at rest): when
    ``assigned`` carries the ``code`` column, the ADC scan selects
    ONLY (nid, cluster, code) — m bytes per vector; parquet column
    pruning means the float column is never read — and the stored
    codes are scored directly with zero per-query re-encoding. Floats
    are fetched ONLY for the shortlist rerank, keyed by nid. Without
    the column — or when ANY probed-cluster code is NULL (an index
    appended without codebooks_dir, or mixed across a rebuild;
    detected by a bytes-only file-pruned probe job) — the scan falls
    back to encode-in-scan (the bootstrap path for an index that has
    not been through pq_encode_index; it reads floats and re-encodes
    per search call — correct, but not the 100 TB shape). The scan also FILTERS to the probed-cluster
    union first — at rest the index is written partitioned by cluster
    id, so this prunes files, not merely rows. Per Arrow batch the
    ADC gather scores every (row, query) pair, then a per-query
    cluster mask enforces IVF semantics (a query never scores a list
    it did not probe — masking keeps the cost model honest rather
    than quietly improving recall). The rerank join is
    shortlist-sized.

    ``centers_norm`` switches on RESIDUAL semantics (FAISS
    IndexIVFPQ's encoding; pq_fit_sample_residual's docstring has the
    identity): ADC adds the per-(query, cluster) bias <q̂, ĉ_i> and
    the LUT gather covers the residual term. It MUST match what the
    codes were encoded with — raw-encoded codes scored with a bias
    (or vice versa) are silently wrong, which is why both come from
    the same fit call."""
    if rerank_r and rerank_r <= k:
        raise ValueError(
            f"rerank_r={rerank_r} must exceed k={k} (0 disables the rerank)"
        )
    keep = max(k, rerank_r)
    mq, kq, d_sub = codebooks.shape
    n_clusters = centers.shape[0]
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"query frame exceeds max_queries={max_queries}; the IVF×PQ "
            "probe set must be driver-sized — see pq_adc_topk's contract"
        )
    if not q_rows:
        raise ValueError(
            "query frame is empty: the IVF×PQ probe needs at least one "
            "query vector (an empty probe set is a caller bug, not a "
            "zero-row result)"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[1] for r in q_rows], dtype=np.float64)
    probed = _probe_assign(qmat, centers, n_probe)  # (nq, n_probe)
    probe_mask = np.zeros((len(qids), n_clusters), dtype=bool)
    for j in range(len(qids)):
        probe_mask[j, probed[j]] = True
    union_clusters = sorted({int(c) for c in probed.ravel()})

    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
    luts = np.stack(
        [np.einsum("md,mkd->mk", q.reshape(mq, d_sub), codebooks) for q in qn]
    )  # (nq, m, k)
    cb = np.ascontiguousarray(codebooks)
    # residual bias: score(q, x ∈ cluster i) = <q̂, ĉ_i> + Σ_m LUT
    bias = None if centers_norm is None else qn @ np.ascontiguousarray(centers_norm).T  # (nq, C)
    cn = None if centers_norm is None else np.ascontiguousarray(centers_norm)
    pruned = assigned.filter(
        F.col("cluster").isin([int(c) for c in union_clusters])
    )
    # Dispatch on non-null codes, not column PRESENCE (ADVICE r12):
    # read_ivf_index always emits `code`, and a sink built without
    # codebooks_dir (or a rebuild-without-codebooks + append-with)
    # stores NULL / mixed codes — scoring those would crash executor-
    # side in the byte join. The probe scans only the pruned clusters'
    # code column (file-pruned, bytes-only — one tiny job per search);
    # ANY null code falls the whole search back to encode-in-scan,
    # which is correct on every layout (it reads floats and ignores
    # the code column) at bootstrap-path cost.
    codes_at_rest = code_col in assigned.columns and pruned.filter(
        F.col(code_col).isNull()
    ).isEmpty()

    def topk_frame(score, nids, clusters):
        """Shared per-batch tail: round, per-query probe-mask + local
        top-keep, emit the (qid, nid, approx_cos) long frame."""
        score = np.floor(np.abs(score) * 1e6 + 0.5) / 1e6 * np.sign(score)
        out_q, out_n, out_s = [], [], []
        for j in range(len(qids)):
            mask = probe_mask[j, clusters] & (nids != qids[j])
            sj, nj = score[mask, j], nids[mask]
            top_j = np.lexsort((nj, -sj))[:keep]
            out_q.append(np.full(len(top_j), qids[j]))
            out_n.append(nj[top_j])
            out_s.append(sj[top_j])
        return pd.DataFrame(
            {
                query_id_col: np.concatenate(out_q),
                "nid": np.concatenate(out_n),
                "approx_cos": np.concatenate(out_s),
            }
        )

    def score_codes(batches):
        # codes-at-rest: m-byte gather, no float reads, no encoding
        for pdf in batches:
            if not len(pdf):
                continue
            nids = pdf["nid"].to_numpy(dtype=np.int64)
            clusters = pdf["cluster"].to_numpy(dtype=np.int64)
            if pdf[code_col].isnull().any():
                # belt-and-braces behind the dispatch probe: a write
                # racing the search could land null codes between
                # probe and scan — name the fix instead of the
                # opaque TypeError the byte join would throw
                raise ValueError(
                    "NULL PQ codes reached the codes-at-rest scorer: "
                    "the index mixes encoded and unencoded rows "
                    "(append without codebooks_dir, or pre-encode "
                    "rebuild). Re-encode via pq_encode_index / "
                    "rebuild_ivf_index, or drop the code column to "
                    "force encode-in-scan."
                )
            codes = np.frombuffer(
                b"".join(pdf[code_col].tolist()), dtype=np.uint8
            ).reshape(len(pdf), mq)
            gathered = luts[:, np.arange(mq)[None, :], codes]  # (nq, n, m)
            score = gathered.sum(axis=2).T  # (n, nq)
            if bias is not None:
                score = score + bias[:, clusters].T
            yield topk_frame(score, nids, clusters)

    def score_floats(batches):
        # bootstrap: encode in-scan (reads floats — not the 100 TB shape)
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            cmat = cmat / np.maximum(
                np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30
            )
            nids = pdf["nid"].to_numpy(dtype=np.int64)
            clusters = pdf["cluster"].to_numpy(dtype=np.int64)
            if cn is not None:
                cmat = cmat - cn[clusters]
            codes = pq_encode_batch(cmat, cb)
            gathered = luts[:, np.arange(mq)[None, :], codes]  # (nq, n, m)
            score = gathered.sum(axis=2).T  # (n, nq)
            if bias is not None:
                score = score + bias[:, clusters].T
            yield topk_frame(score, nids, clusters)

    scan = pruned.select(
        "nid", "cluster", *([code_col] if codes_at_rest else ["cv"])
    )
    scored = scan.mapInPandas(
        score_codes if codes_at_rest else score_floats,
        schema=f"{query_id_col} long, nid long, approx_cos double",
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_cos").desc(), F.col("nid")
    )
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= keep)
        .drop("rn")
    )
    if keep == k:
        return top
    corpus = assigned.select(
        F.col("nid").alias(id_col), F.col("cv").alias(vec_col)
    )
    return _exact_rerank(top, corpus, queries, k, id_col, vec_col, query_id_col)
