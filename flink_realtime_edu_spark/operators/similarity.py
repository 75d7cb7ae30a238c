"""Embedding similarity search — SURVEY.md §2.10 X6.

North-star operator (BASELINE.json): top-k cosine neighbors over an
`array<float>` embedding column.

Two paths, as the north star prescribes:

- ``cosine_topk`` — brute force, the correctness baseline. The
  corpus is scanned ONCE; the default impl scores each Arrow batch
  against the (driver-sized) query matrix in vectorized numpy with
  sequential-dimension accumulation (bit-identical to the JVM fold
  and the DuckDB oracle) and emits per-batch local top-k before the
  global rank; ``impl="expr"`` keeps the pure higher-order-function
  form. Cost is O(|Q|·|corpus|): fine for |Q| ≪ corpus, which is the
  batch-scoring shape; NOT for all-pairs.
- ``lsh_cosine_topk`` — the scale path: random-hyperplane LSH
  buckets (sign bits of h·x), candidates only form inside buckets,
  then exact cosine (vectorized pair UDF) re-ranks candidates.
  Recall < 1 by construction; tests measure it against brute force.
  Hyperplanes are generated from a fixed seed so results are
  deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from flink_realtime_edu_spark.functions import cosine, dot, l2_norm
from flink_realtime_edu_spark.operators.quantization import (
    _lloyd_numpy,
    learning_sample,
)
from flink_realtime_edu_spark.session import materialize as _materialize


def _round_half_up(arr: np.ndarray, scale: int = 6) -> np.ndarray:
    """HALF_UP (away-from-zero) rounding, matching Spark's `round` and
    DuckDB's ROUND on doubles (numpy's `round` is HALF_EVEN — wrong
    tie side). Verified value-identical to the JVM result on the
    testdata (tests/test_oracle_parity.py::cosine_topk_bruteforce)."""
    factor = 10.0 ** scale
    return np.sign(arr) * np.floor(np.abs(arr) * factor + 0.5) / factor


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    impl: str = "vectorized",
    max_queries: int = 4096,
) -> DataFrame:
    """Exact top-k neighbors: (qid, nid, cos), k rows per query.

    Scores are rounded to 6dp BEFORE ranking with an id tie-break, so
    the selected set is deterministic and oracle-comparable.

    ``impl="vectorized"`` (default, the 100 TB path): the query matrix
    is collected to the driver (|Q| must be driver-sized — that is the
    batch-scoring contract; for corpus-scale query sets use LSH/IVF)
    and closed over by one `mapInPandas` pass: per Arrow batch a
    numpy loop over dimensions accumulates the dot products in
    SEQUENTIAL dimension order — bit-identical to the left-to-right
    `aggregate(zip_with(...))` fold and to DuckDB's
    `list_dot_product` — then each batch emits only its LOCAL top-k
    per query (same rounded-cos/nid comparator as the final ranking,
    so the global winners always survive locally; total order makes
    this safe). The global WindowExec then ranks ~k·n_partitions rows
    per query instead of the full corpus: the brute-force scan stays
    embarrassingly parallel and the shuffle is negligible.

    ``impl="expr"``: the pure JVM-side higher-order-function form —
    no Python workers, but Catalyst lambdas evaluate interpreted per
    element, so the O(n·|Q|·dim) multiplies dominate (measured ~2×
    slower end-to-end at sf0.1).
    """
    if impl == "expr":
        # Norms are computed ONCE per vector (not per pair): O(n+|Q|)
        # norm work + O(n·|Q|) dot products, all JVM-side.
        q = queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("qv"),
            l2_norm(vec_col).alias("qn"),
        )
        c = corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("cv"),
            l2_norm(vec_col).alias("cn"),
        )
        pairs = c.crossJoin(F.broadcast(q)).filter(F.col("nid") != F.col(query_id_col))
        scored = pairs.select(
            query_id_col,
            "nid",
            F.round(dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cos"),
        )
    else:
        # Guard the driver-side collect: |Q| is the batch-scoring
        # probe set (driver-sized by contract) — raise early on a
        # corpus-scale frame instead of OOMing building the matrix.
        q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
        if len(q_rows) > max_queries:
            raise ValueError(
                f"query frame exceeds max_queries={max_queries}; "
                "brute-force scoring needs a driver-sized probe set — "
                "raise max_queries deliberately or use lsh_cosine_topk "
                "banding for corpus-scale query sets"
            )
        qids = np.array([r[0] for r in q_rows], dtype=np.int64)
        qmat = np.array([r[1] for r in q_rows], dtype=np.float64)  # (m, dim)
        m, dim = qmat.shape

        def _seq_sq_norm(mat: np.ndarray) -> np.ndarray:
            acc = np.zeros(mat.shape[0])
            for d in range(mat.shape[1]):  # sequential like the fold
                acc = acc + mat[:, d] * mat[:, d]
            return np.sqrt(acc)

        qnorm = _seq_sq_norm(qmat)

        def score_batches(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                cmat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                nids = pdf[id_col].to_numpy(dtype=np.int64)
                acc = np.zeros((len(cmat), m))
                for d in range(dim):  # sequential dimension order
                    acc = acc + cmat[:, d : d + 1] * qmat[None, :, d]
                cos = _round_half_up(acc / (qnorm[None, :] * _seq_sq_norm(cmat)[:, None]))
                out_q, out_n, out_c = [], [], []
                for j in range(m):
                    mask = nids != qids[j]
                    cj, nj = cos[mask, j], nids[mask]
                    top = np.lexsort((nj, -cj))[:k]  # same comparator as final rank
                    out_q.append(np.full(len(top), qids[j]))
                    out_n.append(nj[top])
                    out_c.append(cj[top])
                yield pd.DataFrame(
                    {
                        query_id_col: np.concatenate(out_q),
                        "nid": np.concatenate(out_n),
                        "cos": np.concatenate(out_c),
                    }
                )

        scored = corpus.select(id_col, vec_col).mapInPandas(
            score_batches, schema=f"{query_id_col} long, nid long, cos double"
        )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def cosine_pair_udf(scale: int = 6):
    """Factory: Arrow-vectorized rounded cosine over (va, vb) row
    pairs — the scorer for LSH/IVF candidate sets, where pairs number
    in the 100k+ and the interpreted `zip_with`/`aggregate` fold
    dominates (measured ~3× end-to-end on near_dup_embeddings at
    sf0.1). numpy einsum accumulation order differs from the
    sequential fold in the last ulps, so this scorer is for the
    approximate (rows-only) paths; the oracle-checked brute-force
    top-k keeps sequential-order accumulation (see cosine_topk)."""

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", a, b)
        den = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
            np.einsum("ij,ij->i", b, b)
        )
        return pd.Series(_round_half_up(num / den, scale))

    return _cos


def adaptive_n_planes(
    n_rows: int,
    target_bucket_rows: int = 4096,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """Scale the LSH code length with the corpus: planes =
    ⌈log2(n / target_bucket_rows)⌉ clamped to [min, max], so expected
    bucket occupancy n / 2^planes stays ≈ target no matter the scale
    (VERDICT r12 item 3 — the planes-scale-with-log(n) contract,
    previously docstring-only, now in code). The floor IS the
    historical fixed default, so every oracle-scale corpus
    (sf0.001–0.1 ≤ 60 k rows with the 4096-row target) resolves to
    the exact geometry the recorded recalls were measured under —
    pinned by tests/test_operators.py::test_adaptive_n_planes — while
    sf1 (600 k) gets 8 planes and 10⁹ vectors get 18, keeping the
    bucket self-join bounded without hand retuning. The cap bounds
    the bucket-id bit budget (table tags shift by n_planes; 24 planes
    + the table tag stays far inside int64) — past ~16 M× the target
    you retune target_bucket_rows, not the clamp."""
    import math

    if n_rows <= 0:
        return min_planes
    raw = math.ceil(math.log2(max(n_rows / target_bucket_rows, 1.0)))
    return max(min_planes, min(max_planes, raw))


def _dim_and_planes(
    corpus: DataFrame, vec_col: str, n_planes: int | None, **profile
) -> tuple[int, int]:
    """(dim, n_planes) of an LSH geometry. A pinned ``n_planes`` needs
    only the dimension: one limit-1 read, no corpus scan. ``None``
    sizes the planes with :func:`adaptive_n_planes` (``profile`` is
    its target/clamp) from the corpus count, fused with the dimension
    read into one aggregate job (r14 §7.3), not two."""
    if n_planes is not None:
        return len(corpus.select(vec_col).first()[0]), n_planes
    head = corpus.select(
        F.count(F.lit(1)).alias("n"), F.first(vec_col).alias("v0")
    ).first()
    return len(head["v0"]), adaptive_n_planes(int(head["n"]), **profile)


def hyperplane_buckets(
    n_planes: int = 4, dim: int = 64, n_tables: int = 8, seed: int = 42
):
    """Deterministic multi-table random-hyperplane LSH → a pandas UDF
    mapping an embedding to its `n_tables` bucket ids (table tag is
    folded into the id so buckets never collide across tables).
    Vectorized: one (dim × n_tables·n_planes) matmul per Arrow batch.

    Multi-table is the recall lever: a pair is a candidate if it
    agrees in ANY table. Per-table match prob is p^n_planes with
    p = 1 - θ/π, so overall recall ≈ 1-(1-p^n_planes)^n_tables —
    more tables buy recall, fewer planes per table buy candidate
    volume. (Single-table recall on weakly-similar neighbors is near
    zero — measured 0.04 on the testdata embeddings.)"""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_tables * n_planes))
    powers = (1 << np.arange(n_planes)).astype(np.int64)
    table_tags = (np.arange(n_tables).astype(np.int64) + 1) << n_planes

    @pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (mat @ planes) > 0  # (batch, tables*planes)
        signs = signs.reshape(len(mat), n_tables, n_planes)
        ids = signs @ powers + table_tags  # (batch, tables)
        return pd.Series(list(ids))

    return buckets


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share ANY of the query's LSH
    bucket ids; exact cosine re-ranks the (deduplicated) candidates.
    All-pairs work never happens — the only join key is the bucket
    id, so per-query candidate volume is ~ n_tables·corpus/2^n_planes.

    ``n_planes=None`` (default) sizes the geometry from one corpus
    count via :func:`adaptive_n_planes` — identical to the historical
    4-plane fixed geometry at every oracle scale (the floor), log-
    scaling past it. Pass an int to pin it explicitly."""
    dim, n_planes = _dim_and_planes(corpus, vec_col, n_planes)
    buckets = hyperplane_buckets(n_planes, dim, n_tables, seed)
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("cv"),
        F.explode(buckets(F.col(vec_col))).alias("bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.explode(buckets(F.col(vec_col))).alias("bkt"),
    )
    pairs = (
        c.join(F.broadcast(q), on="bkt")
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "qv", "nid", "cv")
        .dropDuplicates(["qid", "nid"])  # a pair may match in several tables
    )
    scored = pairs.select(
        "qid", "nid", cosine_pair_udf()(F.col("qv"), F.col("cv")).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_graph_lsh(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket_rows: int = 2048,
) -> DataFrame:
    """Distributed k-NN GRAPH: approximate top-k neighbors for EVERY
    corpus vector — (src, dst, cos), ≤k rows per src — with NO
    driver-side query collect. This is the corpus-scale-query-set
    path every probe-collect guard in this module points at
    (cosine_topk / pq_adc_topk / ivfpq_topk cap |Q| at
    ``max_queries`` because they broadcast driver-built query
    state): here BOTH sides are the corpus, the only join key is the
    LSH bucket id, and ranking is a per-src window — fully
    distributed end to end. The k-NN graph is the input shape
    SemDeDup-style clustering, graph-based dedup, and
    connectivity-based quality filters consume.

    Scale shape (r13 — replaces the pair-distinct + double vector
    join of r12): score INSIDE the bucket groups. One shuffle moves
    the tagged (id, vector, bkt) rows — n·n_tables rows of
    ~vector-width — into per-bucket `applyInPandas` groups; each
    group computes its own occ²-pair cosines in chunked numpy (the
    exact cosine_pair_udf kernel: einsum num/den + 6dp half-up
    rounding, so scores are bit-identical to the join shape) and
    emits only its per-src LOCAL top-k under the same
    (cos desc, dst) comparator as the final window — the cosine_topk
    local-top-k safety argument, per bucket: if k bucket-mates beat
    x inside a bucket they beat x globally, so global winners always
    survive locally. Downstream rows are ≤ n·n_tables·k (24 bytes
    each) through one dedup + one window. The r12 join shape instead
    attached BOTH vectors to every candidate pair — at candidate
    volume C that second id-join shuffles C·vector-width bytes
    (~130 GB at sf1), which is why the graph could not be swept; now
    data movement is n·n_tables·vector-width in and n·n_tables·k·24 B
    out, both linear in n with geometry-bounded constants.

    The EXPECTED-occupancy model (n / 2^planes) is provably wrong on
    clustered data — measured on the sf1 synthetic corpus (500 k
    vectors around 10 label centroids, 12 planes): hyperplane signs
    collapse per cluster and the top buckets hold ~20 k rows each,
    Σocc² = 14.4 B pairs where the uniform model predicts 0.5 B. So
    the cost bound is enforced, not assumed: buckets over
    ``max_bucket_rows`` are deterministically SUB-SPLIT (salt =
    xxhash64(id) mod ceil(occ/cap) — the skew-salting discipline) so
    per-group work is hard-capped and total scored pairs are ≤
    n·n_tables·cap regardless of how the data clusters. The
    tradeoff, stated honestly: a pair co-located ONLY in a split
    mega-bucket meets with probability ≈ 1−(1−cap/occ)^n_tables
    (~0.57 for the sf1 worst bucket), so exact-top-k recall inside
    pathological near-duplicate mega-clusters drops — but every
    sub-bucket neighbor is still a member of the same tight cluster,
    which is what the graph's downstream consumers (dedup,
    clustering, connectivity filters) actually need; a corpus like
    that should be SemDeDup'd before graph construction anyway. At
    every oracle scale (≤ 2 k vectors) no bucket reaches the default
    cap, so the salt is a structural no-op there and the recorded
    recalls/hashes are unchanged.

    Candidate volume per vector ≈ n_tables · n / 2^n_planes: with
    ``n_planes=None`` (default) the GRAPH profile of
    :func:`adaptive_n_planes` — 128-row target buckets, floor 4 —
    sizes planes from one corpus count: every oracle scale resolves
    to the measured 4-plane geometry, sf1's 500 k vectors get 12
    planes (~1 k candidates/vector), 10⁹ get 23. Every vector is a
    query, so per-vector candidate work IS the cost model — the
    search paths' 4096-row target would mean 31 k scored pairs per
    vector at every scale, 8× the budget a graph build wants.
    Isolated nodes (no bucket-mate in any table) emit no rows by
    construction — count them against F.lit(k) coverage downstream
    rather than expecting exactly n·k edges."""
    dim, n_planes = _dim_and_planes(
        corpus, vec_col, n_planes, target_bucket_rows=128
    )
    bkts = hyperplane_buckets(n_planes, dim, n_tables, seed)
    tagged = _materialize(  # feeds the occupancy agg AND the groups
        corpus.select(
            F.col(id_col).alias("src"),
            F.col(vec_col).alias("v"),
            F.explode(bkts(F.col(vec_col))).alias("bkt"),
        )
    )
    oversized = (
        tagged.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > max_bucket_rows)
    )  # ≤ n·n_tables/cap rows by construction — broadcastable
    tagged = (
        tagged.join(F.broadcast(oversized), "bkt", "left")
        .withColumn(
            "sub",
            F.when(
                F.col("occ").isNotNull(),
                F.pmod(
                    F.xxhash64("src"),
                    F.ceil(F.col("occ") / max_bucket_rows).cast("long"),
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("occ")
    )

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "src": np.array([], dtype=np.int64),
                    "dst": np.array([], dtype=np.int64),
                    "cos": np.array([], dtype=np.float64),
                }
            )
        # sort the bucket by id so column index IS the dst tie-break —
        # the top-k selection below then reduces to ONE integer key
        # argsort per chunk (no per-src Python loop: at sf1 the n·8
        # per-row lexsort iterations were ~2/3 of the graph wall)
        order = np.argsort(pdf["src"].to_numpy(dtype=np.int64))
        ids = pdf["src"].to_numpy(dtype=np.int64)[order]
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)[order]
        # row norms once per group — einsum("ij,ij->i") is the
        # cosine_pair_udf denominator op on the same row bytes
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        kk = min(k, n - 1)
        out_s, out_d, out_c = [], [], []
        # chunk the src side so the (b, n) score matrices stay small
        c = max(1, 262144 // n)
        for lo in range(0, n, c):
            blk = mat[lo : lo + c]
            b = len(blk)
            # einsum("ij,kj->ik") accumulates over j in the same
            # ascending order as cosine_pair_udf's per-pair
            # einsum("ij,ij->i") — BIT-IDENTICAL scores (pinned by
            # test_knn_graph_kernel_matches_pair_udf; the pair form
            # with its repeat/tile buffers measured 122× slower)
            num = np.einsum("ij,kj->ik", blk, mat)
            cos = _round_half_up(num / (norms[lo : lo + b, None] * norms[None, :]))
            # integer composite key (desc rounded cos, asc id): the
            # exact final-window comparator, one vectorized argsort
            key = (1_000_000 - np.rint(cos * 1e6).astype(np.int64)) * n
            key += np.arange(n, dtype=np.int64)[None, :]
            key[np.arange(b), lo + np.arange(b)] = np.iinfo(np.int64).max
            top = np.argsort(key, axis=1, kind="stable")[:, :kk]  # (b, kk)
            out_s.append(np.repeat(ids[lo : lo + b], kk))
            out_d.append(ids[top].ravel())
            out_c.append(np.take_along_axis(cos, top, axis=1).ravel())
        return pd.DataFrame(
            {
                "src": np.concatenate(out_s),
                "dst": np.concatenate(out_d),
                "cos": np.concatenate(out_c),
            }
        )

    scored = tagged.groupBy("bkt", "sub").applyInPandas(
        score_bucket, schema="src long, dst long, cos double"
    )
    # a pair that matches in several tables yields identical rows —
    # dedup the narrow (src, dst, cos) frame before ranking so the
    # duplicate cannot displace a genuine k-th neighbor
    deduped = scored.dropDuplicates(["src", "dst"])
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    return (
        deduped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions
    the corpus into cluster lists; each query probes only its
    `n_probe` nearest centroids, and exact cosine re-ranks inside the
    probed lists. Expected work per query ≈ n_probe/n_clusters of the
    corpus — the classic FAISS-style IVF-Flat layout, here as plain
    DataFrame ops: the cluster id is just a join key (at 100 TB the
    corpus would additionally be WRITTEN partitioned by cluster id so
    probes prune files, not merely shuffle less).

    The quantizer trains on the driver-sized learning sample
    (:func:`_ivf_fit_assign`); corpus rows and queries are assigned
    by vectorized pandas UDFs over the broadcast centroid matrix."""
    assigned, centers = _ivf_fit_assign(corpus, id_col, vec_col, n_clusters)
    return _ivf_probe_search(
        assigned, centers, queries, k, n_probe, id_col, vec_col
    )


def _ivf_fit_assign(corpus, id_col, vec_col, n_clusters):
    """Fit the coarse quantizer on `corpus` and assign it: the ONE
    place the quantizer's training rule and the index layout (nid,
    cluster, cv) live, shared by the rebuild, incremental and
    streaming-append paths. The fit is 10 driver-side Lloyd's
    iterations over the learning sample the PQ codebooks train on
    (operators/quantization.learning_sample; init = its first
    ``n_clusters`` rows by id) — one collect job, where a distributed
    fit pays per-iteration jobs. Every corpus row is then assigned by
    :func:`ivf_append`'s argmin, so a rebuilt row and an appended row
    land in the same cluster by construction."""
    sample = learning_sample(corpus, n_clusters, id_col=id_col, vec_col=vec_col)
    centers = _lloyd_numpy(sample, n_clusters, 10)  # (C, dim)
    return ivf_append(corpus, centers, id_col, vec_col), centers


def ivf_append(
    delta: DataFrame,
    centers: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL index maintenance: assign NEW vectors to the
    EXISTING coarse quantizer (argmin L2 against the broadcast
    centroid matrix — the standard k-means assignment; ties → lowest
    cluster id) without refitting. O(delta) work, one vectorized
    pandas-UDF pass, no corpus rescan — the FAISS `add` discipline:
    codebooks/centroids are fit once on a representative sample and
    appended into, with periodic refits owned by the caller when
    drift accumulates.
    Returns rows in the index layout (nid, cluster, cv), union-able
    with the base index."""

    @pandas_udf("int")
    def nearest_center(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())
        d2 = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

    return delta.select(
        F.col(id_col).alias("nid"),
        nearest_center(F.col(vec_col)).alias("cluster"),
        F.col(vec_col).alias("cv"),
    )


def ivf_incremental_topk(
    base: DataFrame,
    delta: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN over base ∪ delta where the quantizer was fit on BASE
    only and the delta was APPENDED via :func:`ivf_append` — the
    index-maintenance path a growing corpus needs (rebuilding the
    index per batch of new vectors is O(corpus); appending is
    O(delta)). Search semantics identical to :func:`ivf_cosine_topk`;
    recall degrades only as far as the fixed quantizer misfits the
    new data, which the registry query's recall floor watches."""
    assigned_base, centers = _ivf_fit_assign(base, id_col, vec_col, n_clusters)
    assigned = assigned_base.unionByName(ivf_append(delta, centers, id_col, vec_col))
    return _ivf_probe_search(
        assigned, centers, queries, k, n_probe, id_col, vec_col
    )


def _ivf_probe_search(
    assigned: DataFrame,
    centers: "np.ndarray",
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared IVF search: each query probes its n_probe nearest
    centroids; exact cosine re-ranks inside the probed lists."""

    @pandas_udf("array<int>")
    def probe_clusters(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        d2 = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)  # (batch, C)
        nearest = np.argsort(d2, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(nearest))

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_clusters(F.col(vec_col))).alias("cluster"),
    )
    pairs = assigned.join(F.broadcast(q), on="cluster").filter(
        F.col("nid") != F.col("qid")
    )
    scored = pairs.select(
        "qid", "nid", cosine_pair_udf()(F.col("qv"), F.col("cv")).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (the 5th dedup method of the
    north star): multi-table LSH buckets the corpus against ITSELF,
    candidate (id_a < id_b) pairs form only inside buckets, exact
    cosine filters at `threshold`. Near-identical vectors agree on
    all sign bits with high probability, so recall at high thresholds
    stays excellent even with LONG codes — and long codes are the
    scale lever: at cos ≥ 0.95 a 6-bit code admitted ~255 k false
    candidates from 5 k random vectors (every one exactly scored),
    while 12 bits cut candidates ~50× for dup-recall ≈ 1 at
    cos ≥ 0.99 across 8 tables. All-pairs never materializes.

    ``n_planes=None`` (default) sizes the code from one corpus count:
    adaptive_n_planes with a TIGHT 16-row bucket target and the
    historical 12-plane code as the floor — ≥-0.95-cos near-dups
    survive long codes, so the dedup path tolerates (and wants) far
    smaller buckets than the k-NN search paths' 4096-row target.
    Every oracle scale resolves to the measured 12-plane geometry;
    sf1 gets 16 planes, 10⁹ vectors 26 (cap 30).

    Scale shape notes (r14). The knn_graph_lsh in-group scoring form
    was built and A/B-measured HERE and REJECTED: at sf0.1 it ran
    2.26–2.98 s vs this shape's 1.98–2.10 s in interleaved passes —
    the 16-row bucket target means ~n_tables·n/16 tiny pandas groups
    (per-group overhead) and a dense pair co-located in all 8 tables
    gets scored 8× in-group, where this shape pair-dedups BEFORE the
    one scorer pass. What r14 keeps from that work: the exchange
    ahead of the self-join is left to the PLANNER (the r13 form
    pinned ``.repartition("bkt")``, a REPARTITION_BY_COL-origin
    shuffle AQE's OptimizeSkewedJoin refuses to rewrite — the
    candidate_pairs discipline, operators/dedup.py), so when a
    mega-bucket dup-clique makes the self-join skew at scale, the
    sort-merge join stays AQE-skew-splittable instead of running the
    hot bucket as one straggler task; at driver scales the join is a
    broadcast and the exchange never plans at all."""
    dim, n_planes = _dim_and_planes(
        corpus, vec_col, n_planes,
        target_bucket_rows=16, min_planes=12, max_planes=30,
    )
    buckets = hyperplane_buckets(n_planes, dim, n_tables, seed)
    tagged = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("v"),
            F.explode(buckets(F.col(vec_col))).alias("bkt"),
        )
        # AQE does not stage-reuse the two identical self-join
        # subtrees (see candidate_pairs); materialize the tagged rows
        # once instead of running the scan + bucket UDF per side.
        .transform(_materialize)
    )
    a = tagged.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), "bkt"
    )
    b = tagged.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "bkt"
    )
    pairs = (
        a.join(b, on="bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # asNondeterministic is an optimizer FENCE, not a semantics claim
    # (the kernel is deterministic): without it the threshold filter
    # is pushed below the projection and the scorer runs TWICE — once
    # under the filter, again for the surviving rows' output column
    # (guide §4.4 pattern; r13 plan showed ArrowEvalPython → Filter →
    # ArrowEvalPython on the same _cos(va, vb)).
    scorer = cosine_pair_udf().asNondeterministic()
    return pairs.select(
        "id_a", "id_b", scorer(F.col("va"), F.col("vb")).alias("cos")
    ).filter(F.col("cos") >= threshold)


def block_pairs(
    corpus: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b) with id_a < id_b: the within-block pairs whose
    rounded sequential-fold cosine reaches `threshold` — the duplicate
    graph SemDeDup closes. Quadratic within a block, linear across;
    exposed so a caller that also needs the raw pair set (e.g. the
    pruned-have-neighbor audit in semdedup_kmeans_summary) computes
    the expensive self-join ONCE and feeds it back via
    semantic_dedup(pairs=...)."""
    v = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("block"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    a = v.select(F.col("vid").alias("id_a"), "block", F.col("e").alias("ea"))
    b = v.select(F.col("vid").alias("id_b"), "block", F.col("e").alias("eb"))
    return (
        a.join(b, on="block")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= F.lit(threshold))
        .select("id_a", "id_b")
    )


def semantic_dedup(
    corpus: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs: DataFrame | None = None,
    max_iters: int = 30,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding column. Vectors are
    compared pairwise ONLY inside their block (the paper's k-means
    cluster — any bounded-cardinality partition column works: a
    cluster id from ``clustering.kmeans_fit``, an LSH bucket, or a
    metadata key), pairs with rounded cosine ≥ `threshold` form a
    duplicate graph, and exactly one representative per connected
    component is kept (minimum id — deterministic; the paper keeps
    the vector farthest from the centroid, a one-line argmax swap).
    Pass a precomputed/materialized `pairs` frame (block_pairs
    output) to skip the quadratic self-join when the caller already
    built it; raise `max_iters` (forwarded to connected_components)
    for adversarially chain-shaped duplicate graphs whose diameter
    exceeds 30.

    Returns one row per input vector:
    ``(id, block, sem_cluster, keep)`` — `sem_cluster` is the min id
    of the vector's semantic component (its own id for singletons),
    `keep` marks the survivor the pruned corpus retains.

    Scale contract: the self-join is quadratic WITHIN a block and
    linear across blocks, so blocks must stay bounded (the SemDeDup
    recipe itself: k is chosen so clusters are ~10k vectors — at that
    size a block's pair set fits one task). The cosine is the
    sequential JVM fold (`functions.cosine`) so a DuckDB oracle can
    replay it bit-identically; swap in `cosine_pair_udf` when a
    rows-only path needs the ~3× Arrow throughput."""
    from flink_realtime_edu_spark.operators.graph import connected_components

    v = corpus.select(
        F.col(id_col).alias("vid"), F.col(block_col).alias("block")
    )
    if pairs is None:
        pairs = block_pairs(
            corpus, block_col, threshold, id_col=id_col, vec_col=vec_col
        )
    comp = connected_components(
        pairs, src="id_a", dst="id_b", max_iters=max_iters
    )
    return (
        v.join(comp, v["vid"] == comp["node"], "left")
        .select(
            F.col("vid").alias(id_col),
            "block",
            F.coalesce(F.col("component"), F.col("vid")).alias("sem_cluster"),
            (F.coalesce(F.col("component"), F.col("vid")) == F.col("vid")).alias(
                "keep"
            ),
        )
    )


__all__ = [
    "cosine_topk",
    "cosine_pair_udf",
    "lsh_cosine_topk",
    "hyperplane_buckets",
    "adaptive_n_planes",
    "embedding_near_duplicates",
    "block_pairs",
    "semantic_dedup",
    "dot",
    "l2_norm",
]


def knn_graph_refine(
    graph: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 1,
) -> DataFrame:
    """One (or more) NN-DESCENT refinement rounds over a k-NN graph
    (Dong, Moses, Li — "Efficient k-nearest neighbor graph
    construction for generic similarity measures", WWW 2011, public):
    a neighbor of a neighbor is likely a neighbor, so each round
    re-ranks every node against its current neighbors PLUS its
    2-hop candidates over the SYMMETRIZED edge set, keeping top-k.

    This is the recall lever that composes with knn_graph_lsh's
    occupancy cap: the cap hard-bounds LSH candidate cost on
    clustered corpora at the price of exact-top-k recall inside
    split mega-clusters, and descent rounds reach across sub-bucket
    boundaries without ever re-opening the quadratic bucket.
    Measured at native sf1 (BASELINE.md r13): sampled recall@5
    0.42 → 0.54 after one round, converging at 0.56 by round 2 —
    and the honest companion metric is the SCORE REGRET, because
    inside a 50 k near-duplicate cluster the "exact top-5" is
    decided by 6-dp rounded-cosine ties and set-recall punishes
    cos-equal neighbors: mean top-5 cosine is 0.8996 exact vs
    0.8955 base vs 0.8967 refined (0.45% → 0.33% relative regret).
    At the oracle scales: 0.64 → 0.72 (sf0.01), flat elsewhere.

    Recall is MONOTONE non-decreasing by construction: each node
    re-ranks a SUPERSET of its current edges under the exact
    total order the brute-force top-k uses, so a current edge in the
    exact top-k can only be displaced by a candidate that beats it
    globally — i.e. by another exact-top-k member (pinned in
    tests/test_operators.py).

    Scale shape: candidates per node are BOUNDED BY CONSTRUCTION at
    (2k)² + 2k (symmetrized degree ≤ 2k, one 2-hop self-join of the
    16-byte edge list), so each round is: one edge self-join, one
    distinct, two id-keyed joins attaching vectors to ≤ n·(2k)²
    candidate rows, one Arrow-batched exact rescore, one top-k
    window — every stage linear in n with a k²-sized constant, no
    driver-side collect anywhere. (At 10⁹ nodes and k=5 the
    vector-attach shuffle is the cost: ~n·25·2·vec bytes — the
    bounded analogue of the unbounded candidate-volume join the r13
    graph scorer removed.) Isolated nodes have no candidates and
    stay isolated; ranking uses the shared (cos desc, id) comparator
    and the cosine_pair_udf kernel, so results are deterministic and
    drop-in comparable with the base graph's scores."""
    vecs = corpus.select(F.col(id_col), F.col(vec_col))
    out = graph
    for _ in range(iterations):
        edges = out.select("src", "dst")
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        sym = _materialize(sym)  # both sides of the 2-hop self-join
        two_hop = (
            sym.alias("a")
            .join(sym.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        cand = (
            edges.unionByName(two_hop)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        joined = cand.join(
            vecs.withColumnsRenamed({id_col: "src", vec_col: "sv"}), on="src"
        ).join(vecs.withColumnsRenamed({id_col: "dst", vec_col: "dv"}), on="dst")
        scored = joined.select(
            "src",
            "dst",
            cosine_pair_udf()(F.col("sv"), F.col("dv")).alias("cos"),
        )
        w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
        out = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
    return out


def ann_recall_summary(
    ann: DataFrame,
    exact: DataFrame,
    queries: DataFrame,
    k: int,
    min_mean_recall: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Fold an ANN result into a deterministic, oracle-assertable
    summary row: ``(n_queries, k, all_queries_answered,
    mean_recall_ok)``.

    Raw ANN neighbor sets are index-specific (bucket/probe layout), so
    a value-equal SQL oracle cannot exist for them; what IS exactly
    assertable is the tolerance contract (the same trick as the A4
    sketch oracles): recall@k against the exact brute-force top-k —
    computed INSIDE the query, both sides Spark, both deterministic
    (seeded hyperplanes / sample-fit quantizers on fixed data) —
    folded to booleans with thresholds far below the measured floor,
    so the booleans are deterministically TRUE unless the index breaks.
    `n_queries` stays exactly computable by the oracle.

    Scale note: the brute-force arm makes this a VERIFICATION query
    (gate scales); production serving uses the ANN frame directly.

    The ANN frame is materialized before folding: it feeds BOTH the
    hit semi-join and the per-query answer count, and AQE does not
    stage-reuse duplicated subtrees (the candidate_pairs /
    knn_graph_sampled_recall finding, r12 ADVICE) — without this the
    whole search pipeline (bucket/encode UDFs, candidate join,
    rerank) executed twice per summary (r13: every ANN query's plan
    showed its scorer ArrowEvalPython ×2). The frame is ≤ |Q|·k rows."""
    ann = _materialize(ann)
    hit = ann.select("qid", "nid").join(
        exact.select("qid", "nid"), on=["qid", "nid"], how="left_semi"
    )
    per_q = (
        queries.select(F.col(id_col).alias("qid"))
        .join(
            ann.groupBy("qid").agg(F.count(F.lit(1)).alias("n_ans")), "qid", "left"
        )
        .join(
            hit.groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit")), "qid", "left"
        )
        .select(
            "qid",
            F.coalesce(F.col("n_ans"), F.lit(0)).alias("n_ans"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k))).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(k).alias("k"),
        (F.min("n_ans") >= F.lit(k)).alias("all_queries_answered"),
        (F.avg("recall") >= F.lit(min_mean_recall)).alias("mean_recall_ok"),
    )
