"""Document deduplication operators — SURVEY.md §2.10 X4/X5.

North-star LLM-pipeline operators (BASELINE.json): exact dedup,
MinHash+LSH near-dup, SimHash near-dup. The 100 TB discipline is the
same for all of them: NEVER materialize the O(n²) pairwise matrix —
hash/band/bucket first so candidate pairs only form inside buckets
(cf. PAPERS.md LSH literature; same structure as the band join in
public MinHash dedup pipelines).

MinHash signatures come from one Arrow-batched pandas UDF that
hashes every shingle in the batch with pandas' SipHash
(`pd.util.hash_array`, fixed keys → deterministic across runs and
executors) and derives the n seeded hashes via Kirsch–Mitzenmacher
double hashing (h1 + i·h2 in uint64) — a (n_shingles × n_hashes)
numpy broadcast + per-doc `minimum.reduceat`. Measured 3.5× faster
than a pure-expression signature at sf0.1 (0.65 s vs 2.28 s for
5 000 docs × 32 hashes): Catalyst higher-order-function lambdas are
interpreted per element, so the ~8 M hash evaluations dominate,
while the Arrow path is one C loop. This is the 100 TB hot path.

Banding, bucket-join, and Jaccard verification are pure DataFrame
ops. SimHash uses one Arrow-batched pandas UDF (per-row
bit-majority is genuinely awkward as 64 agg columns).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from flink_realtime_edu_spark.functions import word_shingles
from flink_realtime_edu_spark.session import materialize as _materialize


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_batch(texts, n_hashes: int = 32, shingle_words: int = 3) -> list:
    """Batch core of the vectorized MinHash signature (pure
    numpy/pandas — property-tested without Spark in
    tests/test_properties.py).

    Collect every distinct shingle of every doc into one flat object
    array, SipHash it twice with fixed 16-byte keys
    (`pd.util.hash_array` — deterministic across processes), then the
    Kirsch–Mitzenmacher family h_i = h1 + i·h2 (uint64 wraparound);
    per-doc mins via `minimum.reduceat` over the batch offsets.
    O(total_shingles × n_hashes) C-loop work, no per-element Python.

    One seed at a time with preallocated buffers: the obvious
    (n_shingles × n_hashes) broadcast materializes ~120 MB of
    temporaries per batch, and those large fresh mmaps stall 10-40 s
    under THP/compaction pressure next to the JVM heap (measured; the
    compute itself is ~0.1 s). Working set here is 2 small buffers,
    reused across seeds."""
    offsets = np.empty(len(texts) + 1, dtype=np.int64)
    offsets[0] = 0
    shingles: list[str] = []
    for i, t in enumerate(texts):
        toks = t.split(" ") if t else [""]
        k = max(len(toks) - shingle_words + 1, 1)
        shingles.extend(set(" ".join(toks[j : j + shingle_words]) for j in range(k)))
        offsets[i + 1] = len(shingles)
    if not shingles:
        return []
    arr = np.asarray(shingles, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key="fres-minhash-h01")
    h2 = pd.util.hash_array(arr, hash_key="fres-minhash-h02")
    tmp = np.empty_like(h1)
    mins = np.empty((n_hashes, len(offsets) - 1), dtype=np.uint64)
    row = np.empty(len(offsets) - 1, dtype=np.uint64)
    for i in range(n_hashes):
        np.multiply(h2, np.uint64(i), out=tmp)
        np.add(tmp, h1, out=tmp)
        np.minimum.reduceat(tmp, offsets[:-1], out=row)
        mins[i] = row
    return list(mins.T.copy().view(np.int64))


def minhash_sig_vectorized_udf(n_hashes: int = 32, shingle_words: int = 3):
    """Factory for the Arrow-vectorized MinHash signature pandas UDF
    (built lazily — `pandas_udf` needs an active SparkSession); the
    batch math lives in :func:`minhash_batch`."""

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series(minhash_batch(texts, n_hashes, shingle_words))

    return _sig


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, sig array<long>) via the vectorized signature UDF."""
    sig = minhash_sig_vectorized_udf(n_hashes, shingle_words)(F.col(text_col))
    return df.select(F.col(id_col), sig.alias("sig"))


def bands_from_signature(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band_id, band_hash) from an (id, sig) frame: hash each
    band of the signature. Docs agreeing on any full band share a
    (band_id, band_hash) bucket."""
    rows_per_band = n_hashes // bands

    def bands_of(s: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_id"),
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(s, b * rows_per_band + 1, rows_per_band),
                            lambda h: h.cast("string"),
                        ),
                        ",",
                    )
                ).alias("band_hash"),
            ),
        )

    # Bind the signature to a lambda variable (single-element array
    # transform) so the upstream sig expression is evaluated ONCE per
    # row even if CollapseProject inlines it; referencing it directly
    # inside the per-band lambda re-evaluates it once per band
    # (measured: 8 bands → ~6× slower with an expression-tree
    # signature).
    band_arr = F.element_at(F.transform(F.array(F.col("sig")), bands_of), 1)
    return sig_df.select(
        F.col(id_col), F.explode(band_arr).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
) -> DataFrame:
    """shingle → minhash → band in one plan (no materialization)."""
    return bands_from_signature(
        minhash_signature(df, id_col, text_col, n_hashes, shingle_words),
        id_col,
        n_hashes,
        bands,
    )


def candidate_pairs(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any LSH bucket. The join
    key is (band_id, band_hash) — the cross product only happens
    inside buckets, which is the entire point of LSH.

    Materialization: unpinned, the upstream text-scan + signature
    stage runs once per self-join side, so the band frame — 24
    bytes/doc/band, orders smaller than the corpus it derives from —
    is lazily pinned with :func:`session.materialize`; measured
    6.6 s → 2.3 s end-to-end on near_dup_minhash at sf0.1.
    Once materialized, AQE stage-reuses the single shuffle of the
    tiny frame for both sides (ReusedExchange in the final plan).

    Skew (the 100 TB posture): NO explicit repartition on the join
    key here, deliberately. A user `.repartition("band_id",
    "band_hash")` pins a REPARTITION_BY_COL-origin shuffle that
    AQE's OptimizeSkewedJoin refuses to rewrite (it only splits
    ENSURE_REQUIREMENTS shuffles), so one hot bucket — a dup-clique
    of near-identical documents, the exact shape a crawl corpus
    produces — would run as ONE straggler task. Leaving the exchange
    to the planner keeps the sort-merge join skew-splittable;
    measured on a 6 k-identical-doc clique: SortMergeJoin(skew=true),
    both sides `AQEShuffleRead skewed` (197 splits), 1.7× faster than
    the pinned-repartition plan (tests/test_plans.py::
    test_candidate_pairs_skew_split, scripts/scale_stress.py --skew)."""
    bands_df = _materialize(bands_df)
    a = bands_df.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    b = bands_df.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    return (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the cheap,
    per-pair verification step after LSH filtering).

    Shingles are computed only for docs that occur in a candidate
    pair (semi-join prune) — after LSH the candidates are a tiny
    fraction of the corpus, so at 100 TB this turns a full-corpus
    re-shingle into work proportional to the candidate set."""
    # Spread the pair frame to full parallelism first. The scoring
    # below is CPU-bound per ROW (each pair fans out to two ~100-entry
    # shingle arrays and an O(|A|+|B|) intersect), but the frame is
    # tiny in BYTES before the joins — AQE's byte-based coalescing
    # happily squeezes it to 1-2 partitions and the whole verify then
    # runs on 1-2 cores (measured 11 s → 6.6 s at the 10× dup-heavy
    # sweep from this one repartition). Round-robin, not keyed: the
    # joins re-shuffle on id anyway, this only sets the task count.
    pairs = pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = docs.join(ids, on=id_col, how="left_semi").select(
        F.col(id_col), F.array_distinct(word_shingles(text_col, shingle_words)).alias("sh")
    )
    out = (
        pairs.join(sets.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), on="id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), on="id_b")
    )
    # |A∪B| = |A| + |B| − |A∩B| (both arrays are array_distinct
    # outputs): one set op per pair instead of two — array_union was
    # a second full hash-set build + array alloc per candidate pair.
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return out.select(
        "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
    )


def jaccard_pairs_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs WITHOUT hashing or pair-wise array
    ops: explode distinct shingles, self-join on the shingle
    (inverted-index blocking — any pair with J > 0 shares one), and
    count matches per pair; |A∩B| is that count, |A∪B| =
    |A|+|B|-|A∩B|, and the |A|/|B| terms are per-doc kept-shingle
    counts BROADCAST into the pair frame (the sizes table is one row
    per doc — dim-sized even at corpus scale). Cheaper than
    rejoining full shingle arrays per candidate pair (measured ~3×
    on the word-soup corpus at sf0.1, where frequent shingles make
    candidates dense).
    Returns (id_a, id_b, jaccard) with jaccard rounded to 6 and
    filtered to ≥ threshold.

    ``max_df`` is the 100-TB guard: a shingle present in d documents
    emits d(d-1)/2 pair rows from the self-join, so ONE corpus-wide
    stop-phrase shingle ("terms of service" in millions of docs)
    would explode a single join key into ~10^12 rows. Shingles with
    document frequency > max_df are dropped BEFORE the self-join
    (the standard prefix/positional-filtering trick — high-df
    shingles carry negligible Jaccard discrimination), bounding the
    self-join output at Σ_kept df² ≤ max_df · Σ df = max_df ·
    |inverted index|, i.e. LINEAR in corpus size for fixed max_df.
    Semantics become exact Jaccard over the capped shingle universe:
    sizes count only kept shingles, so J is a true Jaccard on the
    filtered sets (docs whose shingles are all hot emit no pairs);
    the DuckDB oracle applies the identical cap. ``max_df=None``
    restores uncapped exact Jaccard (small/trusted corpora only).
    Hot-shingle boundedness is pinned by a planted-stop-shingle
    pytest (tests/test_operators.py).

    The inverted index carries xxhash64(shingle), not the shingle
    string: the self-join shuffles and compares 8-byte longs instead
    of ~20-byte strings (measured ~25% faster at sf0.1). Counting is
    unchanged unless two distinct shingles collide in 64 bits
    (birthday risk ~1e-9 at 1e5 distinct shingles; the DuckDB oracle
    keeps the strings, so driver equality would catch a collision on
    this corpus).

    The exploded (doc, shingle-hash) frame is lazily
    materialized (session.materialize) before the df-filter and
    self-join — AQE does
    not stage-reuse the identical subtrees (see candidate_pairs),
    and the hash rows are 16 bytes each vs re-scanning +
    re-shingling the text."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    word_shingles(text_col, shingle_words), lambda s: F.xxhash64(s)
                )
            )
        ).alias("s"),
    )
    sh = _materialize(sh)
    if max_df is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        # sh now feeds sizes + both self-join sides; materialize the
        # pruned rows once (strictly smaller than the pre-cap frame).
        sh = _materialize(sh.join(rare, on="s", how="left_semi"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # No explicit repartition("s"): a pinned REPARTITION_BY_COL shuffle
    # would make the self-join ineligible for AQE skew splitting
    # (OptimizeSkewedJoin only rewrites ENSURE_REQUIREMENTS shuffles) —
    # see candidate_pairs, same posture. Matters here even capped: a
    # df=100 key is 10^4 pair rows, and max_df=None (the documented
    # escape hatch) has no bound at all.
    inter = (
        sh.select(F.col("doc_id").alias("id_a"), "s")
        .join(sh.select(F.col("doc_id").alias("id_b"), "s"), on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.round(
        F.col("n_inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_inter")),
        6,
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
            ),
            on="id_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
            ),
            on="id_b",
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Full pipeline: shingle → minhash → band → bucket-join →
    jaccard-verify → (id_a, id_b, jaccard ≥ threshold)."""
    bands_df = lsh_bands(docs, id_col, text_col, n_hashes, bands, shingle_words)
    pairs = candidate_pairs(bands_df, id_col)
    return jaccard_verify(pairs, docs, id_col, text_col, shingle_words).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------


def winnow_fingerprints_udf(k: int = 8, window: int = 4):
    """Factory: Arrow-vectorized winnowing fingerprints (array<long>).

    Same MOSS scheme as :func:`winnow_fingerprints_expr` (k-gram
    hashes → min per sliding window → distinct), but the gram hashing
    is a numpy polynomial rolling hash over the utf-8 bytes (FNV-prime
    base, uint64 wraparound) and the winnow pass is a
    `sliding_window_view` min — per doc a handful of vectorized ops
    instead of ~len(text) interpreted Catalyst lambda evaluations
    (measured ~4× end-to-end on fingerprint_overlap_docs at sf0.1).
    Guarantee preserved: any shared substring of ≥ k + window - 1
    bytes yields a shared fingerprint (byte-grams, not char-grams —
    identical on ASCII corpora)."""

    @pandas_udf("array<long>")
    def _fp(texts: pd.Series) -> pd.Series:
        return pd.Series(winnow_batch(texts, k, window))

    return _fp


def winnow_batch(texts, k: int = 8, window: int = 4) -> list:
    """Batch core of the vectorized winnowing fingerprints (pure
    numpy — property-tested without Spark): polynomial rolling hash
    of each k-byte gram, min per sliding window, distinct."""
    base = np.uint64(1099511628211)  # FNV-1a prime
    powers = base ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    out = []
    for t in texts:
        bs = np.frombuffer((t or " ").encode("utf-8"), dtype=np.uint8)
        if len(bs) < k:
            bs = np.pad(bs, (0, k - len(bs)))
        win = np.lib.stride_tricks.sliding_window_view(bs, k).astype(np.uint64)
        grams = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
        if len(grams) >= window:
            mins = np.lib.stride_tricks.sliding_window_view(grams, window).min(axis=1)
        else:
            mins = grams.min(keepdims=True)
        out.append(np.unique(mins).view(np.int64))
    return out


def winnow_fingerprints_expr(
    text_col: str, k: int = 8, window: int = 4
) -> Column:
    """array<long> winnowing fingerprint set (Schleimer/Wilkerson/
    Aiken MOSS scheme): hash every k-char-gram, then keep the minimum
    hash of each sliding window of `window` grams; distinct mins are
    the document's fingerprints. Guarantees: any shared substring of
    length ≥ k + window - 1 yields at least one shared fingerprint.

    Entirely JVM-side higher-order functions — the k-gram hashes are
    bound to a lambda variable once per row (same CollapseProject
    trap as MinHash), then the winnow pass slides over the bound
    array. ~O(len·window) comparisons per document, zero shuffles."""
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    n_grams = F.greatest(F.length(txt) - F.lit(k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: F.xxhash64(F.substring(txt, i, k))
    )

    def winnow(hs: Column) -> Column:
        n_windows = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_windows - 1),
                lambda j: F.array_min(F.slice(hs, j + 1, window)),
            )
        )

    return F.element_at(F.transform(F.array(grams), winnow), 1)


def fingerprint_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = 20,
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing ≥ min_shared
    winnowing fingerprints — the MOSS-style containment/plagiarism
    detector. Explode fingerprints → self-join on the fingerprint
    value (bucket-local, like every dedup join here) → count per pair.

    `max_df` drops fingerprints present in more than that many
    documents BEFORE the self-join — the stop-fingerprint filter.
    This is simultaneously a precision fix (boilerplate shared by
    everyone is not plagiarism signal) and the hot-key mitigation: a
    fingerprint in d documents contributes O(d²) pairs, so one
    corpus-wide gram would otherwise re-create the all-pairs blowup
    this operator exists to avoid."""
    fp = docs.select(
        F.col(id_col),
        F.explode(winnow_fingerprints_udf(k, window)(F.col(text_col))).alias("fp"),
    )
    # The fp frame feeds the df-filter AND both self-join sides (3
    # consumers); AQE does not stage-reuse identical subtrees, so
    # materialize the (id, fp) rows once — same trade-off as
    # candidate_pairs, and fp rows are tiny next to the text scan +
    # winnow UDF they replace.
    fp = _materialize(fp)
    if max_df is not None:
        rare = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("fp")
        )
        fp = fp.join(rare, on="fp", how="left_semi")
    # No explicit repartition("fp"): a pinned REPARTITION_BY_COL
    # shuffle would make the self-join ineligible for AQE skew
    # splitting (OptimizeSkewedJoin only rewrites ENSURE_REQUIREMENTS
    # shuffles) — see candidate_pairs, same posture.
    a = fp.select(F.col(id_col).alias("id_a"), "fp")
    b = fp.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash64():
    """Factory for a 64-bit SimHash pandas UDF. Deterministic and
    fully vectorized across the Arrow batch: every token occurrence
    in the batch is SipHashed once (`pd.util.hash_array`, fixed key),
    then each of the 64 bit positions is majority-voted per doc with
    one shift/mask + `add.reduceat` pass over small reused buffers
    (the per-token blake2b Python loop this replaces was ~10× slower;
    big fresh temporaries are avoided for the same mmap-stall reason
    as the MinHash UDF). Built lazily — `pandas_udf` needs an active
    SparkSession, so no decorator at module import."""

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(texts))

    return _simhash


def simhash_batch(texts) -> np.ndarray:
    """Batch core of the vectorized SimHash (pure numpy/pandas —
    property-tested without Spark): int64 signatures, one per text."""
    tokens: list[str] = []
    offsets = np.empty(len(texts) + 1, dtype=np.int64)
    offsets[0] = 0
    for i, t in enumerate(texts):
        if t:
            tokens.extend(t.split(" "))
        offsets[i + 1] = len(tokens)
    n_docs = len(texts)
    if not tokens:
        return np.zeros(n_docs, dtype=np.int64)
    h = pd.util.hash_array(
        np.asarray(tokens, dtype=object), hash_key="fres-simhash-064"
    )
    counts = np.diff(offsets)
    # reduceat over NON-EMPTY docs' start offsets only: these are
    # strictly increasing and in-range, and each segment ends at the
    # next non-empty doc's start (empty docs contribute no tokens).
    # (Clamping out-of-range starts instead silently truncated the
    # last tokens of a doc followed by empty docs — caught by the
    # batch-composition property test.)
    nonempty = counts > 0
    starts = offsets[:-1][nonempty]
    ne_counts = counts[nonempty]
    bits = np.empty_like(h)
    sums = np.empty(len(starts), dtype=np.uint64)
    sig_ne = np.zeros(len(starts), dtype=np.uint64)
    for b in range(64):
        np.right_shift(h, np.uint64(b), out=bits)
        np.bitwise_and(bits, np.uint64(1), out=bits)
        np.add.reduceat(bits, starts, out=sums)
        majority = (2 * sums.astype(np.int64)) > ne_counts
        sig_ne |= majority.astype(np.uint64) << np.uint64(b)
    sig = np.zeros(n_docs, dtype=np.uint64)
    sig[nonempty] = sig_ne
    return sig.view(np.int64)


def md5_hash60(col: Column, offset: int = 1) -> Column:
    """60-bit integer hash from an md5 hex substring — the ONE hash
    in this module that a DuckDB oracle can recompute exactly
    (``CAST(concat('0x', substr(md5(s), offset, 15)) AS BIGINT)``):
    15 hex chars = 60 bits, always positive, so signed-64 arithmetic
    agrees in both engines with no overflow/wraparound caveats.
    `offset` selects a disjoint hex window for independent hashes
    (1 and 16 give the two halves used by the K-M family below).
    Slower than the SipHash/xxhash64 paths (md5 + string slicing) —
    use for oracle-checkable twins, not the hot dedup pipelines."""
    return F.conv(F.substring(F.md5(col), offset, 15), 16, 10).cast("long")


def simhash_signature_md5(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 60,
) -> DataFrame:
    """(id, sim) — SimHash signatures over whitespace tokens with the
    dual-engine md5 hash: per token-occurrence hash, per-bit majority
    vote across the doc's occurrences, bits packed into one BIGINT.

    Pure Catalyst (explode → one hash → n_bits conditional-sum
    aggregates → bit-pack projection): no Python in the plan, one
    shuffle on the doc id, partial aggregation map-side. Docs with no
    non-empty token produce NO row (both engines drop them — a
    signature of an empty set is meaningless for near-dup pairing).
    The SipHash UDF variant (:func:`simhash64`) is ~an order faster
    per token and stays the scale default; this twin exists so the
    banding/verify pipeline gets a hash-exact DuckDB oracle."""
    tok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")
    th = tok.withColumn("h", md5_hash60(F.col("w")))
    aggs = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(n_bits)
    ]
    agg = th.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *aggs)
    packed = None
    for b in range(n_bits):
        bit = F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        packed = bit if packed is None else packed + bit
    return agg.select(F.col(id_col), packed.alias("sim"))


def minhash_signature_md5_km(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, mh0..mh{n-1}) — MinHash signature columns from the
    Kirsch–Mitzenmacher family g_i = h1 + i·h2 over distinct word
    shingles, with h1/h2 the two md5 hex halves (:func:`md5_hash60`).
    Both operands are < 2^60, so h1 + i·h2 stays below 2^63 for
    i ≤ 7 — NO wraparound, hence bit-identical in Spark (silent
    overflow) and DuckDB (checked overflow) alike. Dual-engine twin
    of the signature stage; production dedup keeps the SipHash
    vectorized signatures (:func:`minhash_batch`)."""
    if n_hashes > 8:
        raise ValueError("n_hashes > 8 risks exceeding 2^63 in h1 + i*h2")
    sh = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(text_col, shingle_words))
        ).alias("s"),
    )
    h = sh.select(
        id_col,
        md5_hash60(F.col("s"), 1).alias("h1"),
        md5_hash60(F.col("s"), 16).alias("h2"),
    )
    return h.groupBy(id_col).agg(
        *[
            F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
    )


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sig_df: DataFrame | None = None,
    sig_bits: int = 64,
) -> DataFrame:
    """Near-dups by SimHash: band the signature into
    ``max_hamming + 1`` chunks — the pigeonhole guarantee: hamming ≤
    max_hamming means at LEAST one chunk is untouched, so bucketing
    on chunks has full recall at the requested radius (a fixed chunk
    count would silently lose pairs whose flipped bits spread across
    every chunk). Bucket-join on (chunk_id, chunk), then verify with
    bit_count(a XOR b).

    `sig_df` (id_col, sim) supplies precomputed signatures of
    `sig_bits` useful bits (e.g. :func:`simhash_signature_md5` with
    60); default is the 64-bit SipHash UDF over `text_col`. The
    full-recall property holds for any signature source — banding
    never looks inside the hash.

    The signature frame is lazily pinned with
    :func:`session.materialize` before the self-join: under AQE the
    two identical exchange subtrees are NOT stage-reused (same 4.1.2
    behavior documented on candidate_pairs), so unpinned the full
    text-scan+signature stage runs twice. Signatures are 16 bytes/doc
    — at any scale, pinning them is orders cheaper than re-scanning
    the corpus (measured 5.8 s → 3.0 s at sf0.1)."""
    n_chunks = max_hamming + 1
    widths = [
        sig_bits // n_chunks + (1 if i < sig_bits % n_chunks else 0)
        for i in range(n_chunks)
    ]
    starts = [sum(widths[:i]) for i in range(n_chunks)]
    if sig_df is None:
        sig = docs.select(F.col(id_col), simhash64()(F.col(text_col)).alias("sim"))
    else:
        sig = sig_df.select(F.col(id_col), F.col("sim"))
    sig = _materialize(sig)
    chunks = sig.select(
        id_col,
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        (
                            F.shiftrightunsigned("sim", starts[i])
                            % F.lit(1 << widths[i])
                        ).alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sim", "c.chunk_id", "c.chunk")
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("sim").alias("sim_a"), "chunk_id", "chunk"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("sim").alias("sim_b"), "chunk_id", "chunk"
    )
    return (
        a.join(b, on=["chunk_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.expr("sim_a ^ sim_b")).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated spans (substring-level dedup)
# ---------------------------------------------------------------------------


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    stride: int = 1,
    hash_grams: bool = True,
    max_df: int | None = None,
    keep_first: bool = False,
    gram_rows_per_task: int | None = 4_000_000,
) -> DataFrame:
    """(doc_id, span_start, span_len): maximal character spans covered
    by k-grams that occur ≥ 2 times in the corpus — the distributed
    re-expression of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    char is duplicated iff some k-char window containing it appears at
    another position in the corpus; maximal runs of duplicated chars
    are the spans a training pipeline clips.

    Suffix arrays don't distribute; sliding k-gram windows do, with a
    provable relationship: with stride=1, every duplicated substring
    of length ≥ k is fully covered by flagged windows, and every
    flagged window is genuinely duplicated (exact-match keys — no LSH
    approximation in this operator). stride s > 1 trades cost for the
    guarantee degrading to substrings of length ≥ k + s - 1.

    Shape at 100 TB: gram generation is a JVM-side explode (rows ≈
    total corpus chars / stride, each a (id, pos, key) triple — the
    text column itself is projected away before the shuffle); the dup
    set is ONE hash-partitioned groupBy on the gram key that emits
    positions only for keys with ≥ 2 occurrences (collect_list per
    key, NOT a second corpus-wide semi-join — the grouped positions
    ARE the output, so one shuffle replaces materialize + join).
    Span-merge is a per-document window pass (doc-sized state).

    Gram-shuffle sizing is IN CODE, not a tuning note: the gram frame
    is the corpus's character volume (rows ≈ corpus chars / stride),
    far bigger than anything ``spark.sql.shuffle.partitions`` was set
    for, and the sf3 sweep showed JVM GC pressure when that volume
    lands on too few reduce tasks. So the operator estimates the gram
    count with one cheap length-only aggregate (parquet prunes to the
    text column's lengths) and explicitly hash-repartitions the gram
    frame on the gram key to ``ceil(grams / gram_rows_per_task)``
    tasks whenever that exceeds the session default — the groupBy then
    reuses that partitioning (no second exchange). Scale-up only: at
    test scale the estimate stays under the session default and the
    plan is untouched. ``gram_rows_per_task=None`` disables the
    estimate and leaves sizing to the session config. The default
    4M rows/task keeps gram triples at ~200 MB per task (hash keys;
    raw-gram keys are ~k bytes/row heavier — lower the target when
    ``hash_grams=False`` at scale).

    ``hash_grams=True`` shuffles 8-byte xxhash64 keys (the scale
    default, ~k× less shuffle volume); ``False`` shuffles the raw
    k-char gram — bit-identical to a SQL oracle with no collision
    caveat (the two are pinned equivalent by tests). ``max_df`` drops
    grams occurring more than that many times BEFORE positions are
    grouped — the guard against an ultra-hot boilerplate gram piling
    df ≈ corpus occurrences into one reduce task's collect_list (the
    OOM mode; a moderate hot gram is harmless — 150k positions is a
    ~2 MB list). Mechanism (r9, redesigned after the adversarial A/B
    in BASELINE.md): hot keys with df > max_df are STRUCTURALLY FEW
    (≤ total_grams / max_df), so they are counted in a slim
    partial-aggregated pre-pass, localCheckpointed (tiny — AQE does
    not stage-reuse duplicated subtrees, the r3 lesson), and removed
    from the corpus-sized probe side with a BROADCAST left-anti join
    — the positions frame keeps its single shuffle. The r8 left-semi
    keep-join shape measured ~2x SLOWER than even the naive
    post-collect filter at sf1 with 30% planted boilerplate, because
    the sort-merge semi join re-shuffled the corpus-sized probe and
    the un-reused count branch re-derived it; it survives only as the
    fallback when the hot set is abnormally large (> 4M keys, where a
    broadcast would strain the driver). Note max_df mode is EAGER:
    the hot-key pre-pass runs at call time. None = exact Lee-et-al
    semantics, single shuffle, no pre-pass.

    ``keep_first=True`` exempts each gram's globally-first occurrence
    (min (doc_id, p) — deterministic, order-free) from flagging, so
    one canonical copy of every duplicated region survives clipping —
    the remove-all-but-one policy of Lee et al.'s ExactSubstr dedup.
    Costs nothing extra: the kept occurrence is dropped by an
    array_sort + slice on the already-grouped positions, still inside
    the single shuffle."""
    from pyspark.sql import Window

    txt = F.col(text_col)
    pos = F.explode(
        F.sequence(F.lit(1), F.length(txt) - F.lit(k - 1), F.lit(stride))
    ).alias("p")
    gram = F.substring(txt, F.col("p"), k)
    grams = (
        docs.filter(F.length(txt) >= k)
        .select(F.col(id_col), txt, pos)
        .select(
            id_col,
            "p",
            (F.xxhash64(gram) if hash_grams else gram).alias("g"),
        )
    )
    if gram_rows_per_task is not None:
        import math

        est = (
            docs.filter(F.length(txt) >= k)
            .agg(
                F.sum(
                    F.floor((F.length(txt) - F.lit(k)) / F.lit(stride))
                    + F.lit(1)
                ).alias("n")
            )
            .first()["n"]
            or 0
        )
        try:
            session_parts = int(
                docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            session_parts = 200  # "auto" or unset — Spark's default
        n_tasks = math.ceil(est / gram_rows_per_task)
        if n_tasks > session_parts:
            grams = grams.repartition(n_tasks, "g")
    if max_df is not None:
        # Hot-gram guard BEFORE the positions shuffle (see docstring):
        # count document frequencies in a slim partial-aggregated
        # pass, materialize the FEW hot keys, and broadcast-anti them
        # off the probe side so the positions frame keeps its single
        # corpus-wide shuffle.
        counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        hot = counts.filter(F.col("df") > max_df).select("g").localCheckpoint()
        if hot.count() <= 4_000_000:  # ~32 MB of 8-byte keys
            grams = grams.join(F.broadcast(hot), on="g", how="left_anti")
        else:
            # pathological corpus (hot keys at broadcast-straining
            # volume): fall back to the shuffled keep-semi shape
            keep = counts.filter(
                (F.col("df") >= 2) & (F.col("df") <= max_df)
            ).select("g")
            grams = grams.join(keep, on="g", how="left_semi")
    occurrences = F.count(F.lit(1))
    grouped = grams.groupBy("g").agg(
        occurrences.alias("df"),
        F.collect_list(F.struct(F.col(id_col), F.col("p"))).alias("occ"),
    )
    dup = grouped.filter(F.col("df") >= 2)
    occ_src = (
        F.slice(F.array_sort(F.col("occ")), 2, F.size("occ") - 1)
        if keep_first
        else F.col("occ")
    )
    hits = dup.select(F.explode(occ_src).alias("o")).select(
        F.col(f"o.{id_col}").alias(id_col), F.col("o.p").alias("p")
    )
    # Gaps-and-islands: windows at p cover chars [p, p+k-1]; merge
    # while the next window starts within (or adjacent to) the
    # previous cover. First row's NULL lag falls to otherwise(1).
    w = Window.partitionBy(id_col).orderBy("p")
    spans = (
        hits.withColumn(
            "brk",
            F.when(F.col("p") - F.lag("p").over(w) <= k, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn(
            "span_seq",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "span_seq")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") - F.min("p") + F.lit(k)).alias("span_len"),
        )
        .drop("span_seq")
    )
    return spans


def clip_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clipped_text",
) -> DataFrame:
    """docs plus ``out_col``: the text with every (span_start,
    span_len) region from ``spans`` removed — the APPLY step of
    substring dedup (pair with duplicated_spans(keep_first=True) for
    Lee et al.'s remove-all-but-one ExactSubstr policy).

    Entirely JVM-side: spans fold to a sorted per-doc array (small —
    merged spans are disjoint), and reassembly is ONE ``F.aggregate``
    over that array threading a (cursor, out) accumulator through the
    kept gaps, finished with the tail substring. No Python in the
    loop, no explode back out; docs without spans pass through
    untouched via the left join."""
    txt = F.col(text_col)
    merged = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_len"))
        ).alias("__sp")
    )
    acc0 = F.struct(
        F.lit(1).alias("cur"), F.lit("").cast("string").alias("out")
    )
    clipped = F.aggregate(
        F.col("__sp"),
        acc0,
        lambda acc, s: F.struct(
            (s["span_start"] + s["span_len"]).alias("cur"),
            F.concat(
                acc["out"],
                F.substring(txt, acc["cur"], s["span_start"] - acc["cur"]),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.substring(txt, acc["cur"], F.length(txt) - acc["cur"] + 1),
        ),
    )
    return (
        docs.join(merged, on=id_col, how="left")
        .withColumn(
            out_col,
            F.when(F.col("__sp").isNull(), txt).otherwise(clipped),
        )
        .drop("__sp")
    )
