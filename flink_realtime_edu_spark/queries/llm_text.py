"""Text analysis for LLM data pipelines — SURVEY.md §2.10 X1/X7.

North-star operators (BASELINE.json): token counting, quality
scoring, language-ID heuristics, plus the reference's one canonical
UDTF — keyword splitting + explode (IK analyzer → split/explode for
whitespace text [R]). All pure DataFrame ops: tokenization is
`split`, stats are higher-order functions, so the hot path never
leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_avg, dec_avg_sql, dec_exact, dec_sum_sql
from flink_realtime_edu_spark.operators.textnorm import (
    NORMALIZE_SQL as _NORMALIZE_SQL,
)
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load
from flink_realtime_edu_spark.session import materialize as _materialize

# A tiny fixed stopword list for ratio features (deterministic,
# shared verbatim by the oracle SQL).
STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "['" + "','".join(STOPWORDS) + "']"


# --------------------------------------------------------------------------
# X1 — keyword-split UDTF: token explode + global top-k
# --------------------------------------------------------------------------
@register(
    "token_topk",
    survey_rows=("X1", "A1", "O2"),
    bench=True,
    oracle="""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
SELECT word, COUNT(*) AS cnt
FROM w WHERE word <> ''
GROUP BY word
ORDER BY cnt DESC, word
LIMIT 20
""",
)
def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens — the reference's keyword-split UDTF
    (one-to-many explode) feeding a count/top-N [R]. Explode → partial
    count per partition → single shuffle on word; top-k is
    TakeOrderedAndProject (no global sort)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
    )


@register(
    "vocab_coverage_topk",
    survey_rows=("X7", "X1", "W4", "A5"),
    oracle="""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), v AS (
  SELECT word, COUNT(*) AS cnt FROM w WHERE word <> '' GROUP BY word
), r AS (
  SELECT word, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk,
         SUM(cnt) OVER (ORDER BY cnt DESC, word
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS total
  FROM v
)
SELECT CAST(rnk AS BIGINT) AS rnk, word, cnt,
       ROUND(CAST(cum AS DOUBLE) / total, 6) AS cum_coverage
FROM r WHERE rnk <= 50
""",
)
def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: corpus tokens ranked by frequency
    with the CUMULATIVE fraction of total token mass the top-k terms
    cover — the analysis behind vocab-size / stopword / tokenizer
    decisions ("how many types cover 95% of tokens?").

    Scale (VERDICT r10 fix): a web-scale vocabulary is NOT
    dictionary-sized (10⁸–10⁹ types once URLs/typos/code flow in),
    so no window may run partition-less over the full aggregate.
    The top-50 prefix by (cnt DESC, word) is harvested first via
    `orderBy().limit(50)` — planned as TakeOrderedAndProject, a
    per-partition heap + driver merge, never a global sort — and
    because (cnt, word) is a TOTAL order (words are unique) the
    50-row prefix is exactly the window's first 50 rows, so the
    rank/cumsum window then runs on a 50-row frame (value-identical
    by construction). The corpus total is a separate scalar
    aggregate attached as a one-row broadcast, not a partition-less
    window sum. Exact integer counts; only the final ratio is
    floating (rounded on both engines)."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = vocab.orderBy(F.col("cnt").desc(), "word").limit(50)
    total = vocab.agg(F.sum("cnt").alias("total"))
    w_rank = Window.orderBy(F.col("cnt").desc(), "word")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rnk", F.row_number().over(w_rank))
        .withColumn("cum", F.sum("cnt").over(w_cum))
        .select(
            F.col("rnk").cast("bigint").alias("rnk"),
            "word",
            "cnt",
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
                "cum_coverage"
            ),
        )
    )


# --------------------------------------------------------------------------
# X7 — corpus stats by source
# --------------------------------------------------------------------------
@register(
    "text_stats_by_source",
    survey_rows=("X7", "F5", "A2"),
    oracle=f"""
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  {dec_avg_sql('n_chars')} AS avg_chars,
  {dec_avg_sql("len(string_split(text, ' '))")} AS avg_tokens,
  MIN(n_chars) AS min_chars,
  MAX(n_chars) AS max_chars
FROM documents GROUP BY source
""",
)
def text_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics (the dataset-card numbers an LLM
    pipeline reports per input source)."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens.cast("bigint")).alias("total_tokens"),
        dec_avg("n_chars").alias("avg_chars"),
        dec_avg(n_tokens).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --------------------------------------------------------------------------
# X7 — per-document quality score
# --------------------------------------------------------------------------
@register(
    "doc_quality_scores",
    survey_rows=("X7", "F4", "F5"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
  ROUND(CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
        / len(toks), 6) AS stopword_ratio,
  ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_token_len,
  CASE WHEN len(toks) BETWEEN 20 AND 80
        AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.5
       THEN 'good' ELSE 'poor' END AS quality
FROM t
""",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features per document (length band,
    type-token ratio, stopword ratio, mean token length) + a bucket
    label — the filter stage of an LLM data pipeline."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double") / n
    )
    tok_len_sum = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x).cast("bigint")
    )
    return d.select(
        "doc_id",
        "lang",
        n.cast("bigint").alias("n_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(tok_len_sum.cast("double") / n, 6).alias("avg_token_len"),
        F.when(n.between(20, 80) & (ttr > 0.5), "good").otherwise("poor").alias("quality"),
    )


# --------------------------------------------------------------------------
# X7 — language-ID heuristic vs labels (confusion counts)
# --------------------------------------------------------------------------
_LANG_MARKERS = [("scan", "en"), ("filter", "de"), ("query", "es"), ("merge", "fr")]


def _lang_case_sql() -> str:
    whens = " ".join(
        f"WHEN list_contains(string_split(text, ' '), '{w}') THEN '{lang}'"
        for w, lang in _LANG_MARKERS
    )
    return f"CASE {whens} ELSE 'und' END"


@register(
    "lang_guess_confusion",
    survey_rows=("X7", "F4"),
    oracle=f"""
SELECT lang, {_lang_case_sql()} AS guessed, COUNT(*) AS n
FROM documents GROUP BY 1, 2
""",
)
def lang_guess_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic scored against the labeled
    `lang` column (first-match-wins CASE — the n-gram-heuristic
    structure of a real lang-ID stage; the testdata vocabulary is
    language-independent word soup, so accuracy is meaningless but
    the confusion-matrix computation is the real thing)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    guessed = F.lit("und")
    for word, lang in reversed(_LANG_MARKERS):
        guessed = F.when(F.array_contains(toks, word), lang).otherwise(guessed)
    return d.groupBy("lang", guessed.alias("guessed")).agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# X7/X1 — BPE-style pre-tokenizer counting (regex token counting, the
# second tokenizer of the north star next to whitespace splitting)
# --------------------------------------------------------------------------
# GPT-2-style pre-tokenizer, ASCII form: contraction suffixes, then
# space-prefixed letter runs / digit runs / punctuation runs, then
# leftover whitespace. Leftmost-first alternation semantics agree
# between Java regex (Spark) and RE2 (DuckDB) for this pattern.
_BPE_RE = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_RE_SQL = _BPE_RE.replace("'", "''")  # escape for the SQL literal


@register(
    "bpe_token_counts",
    survey_rows=("X7", "X1", "F1"),
    oracle=f"""
SELECT source,
  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE_SQL}'))) AS BIGINT) AS bpe_tokens,
  {dec_avg_sql(f"len(regexp_extract_all(text, '{_BPE_RE_SQL}'))",
               den="SUM(len(string_split(text, ' ')))")} AS bpe_per_ws
FROM documents GROUP BY source
""",
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (the GPT-2
    pattern's ASCII form) next to plain whitespace counts — the
    fertility-style ratio an LLM data pipeline tracks per source.
    `regexp_extract_all(..., 0)` stays JVM-side (codegen); the same
    RE2-compatible pattern runs in the DuckDB oracle."""
    d = load(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
    return d.groupBy("source").agg(
        F.sum(ws.cast("bigint")).alias("ws_tokens"),
        F.sum(bpe.cast("bigint")).alias("bpe_tokens"),
        dec_avg(bpe, den=F.sum(ws)).alias("bpe_per_ws"),
    )


# --------------------------------------------------------------------------
# X7 — TF-IDF top terms per document
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    survey_rows=("X7", "X1", "A1", "W1"),
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term <> '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tfidf, rnk FROM (
  SELECT tf.doc_id, tf.term,
    ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
    ROW_NUMBER() OVER (
      PARTITION BY tf.doc_id
      ORDER BY ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC,
               tf.term) AS rnk
  FROM tf JOIN dfreq df ON tf.term = df.term CROSS JOIN n) s
WHERE rnk <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic quality /
    topicality signal a training-data pipeline computes corpus-wide.
    tf = in-doc term count, idf = ln(N/df) with df counted from the
    per-doc term set; score rounded to 6 dp BEFORE ranking with the
    term string as unique tie-breaker (SURVEY.md §5.2 determinism
    rule — ln() may differ from DuckDB's libm by an ulp, rounding
    absorbs it; verified hash-equal at sf0.001/0.01/0.1).

    Scale: two hash aggregates (doc,term) and (term), one shuffle
    each; the doc-frequency side joins back on term (dictionary-
    sized → AQE broadcasts it); N is a one-row broadcast. No
    collect, no cross product beyond the scalar."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # tf feeds the doc-frequency agg AND the scoring join; AQE does
    # not stage-reuse the duplicated explode+agg subtree, so
    # materialize the aggregated (doc, term, tf) rows once (median
    # 1.0 → 0.7 s at sf0.1; see operators/dedup.py::candidate_pairs).
    tf = _materialize(
        tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", tfidf)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        # cast: row_number() is INT but the oracle's ROW_NUMBER() is
        # BIGINT — the driver's value hash is type-sensitive.
        .select("doc_id", "term", "tfidf", F.col("rnk").cast("bigint").alias("rnk"))
    )


# --------------------------------------------------------------------------
# A4/X7 — Count-Min Sketch heavy-hitter estimates over document tokens
# --------------------------------------------------------------------------
@register(
    "cms_token_frequencies",
    survey_rows=("A4", "X7"),
    # Raw CMS counters hash with Spark's xxhash64 (no DuckDB twin),
    # so the oracle asserts the SKETCH GUARANTEE instead: one-sided
    # error (est ≥ exact) and the ε=e/width overestimate bound, as
    # booleans TRUE on both sides, next to the exact top-20 counts.
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), cnt AS (
  SELECT term, COUNT(*) AS exact_cnt FROM tok WHERE term <> '' GROUP BY 1
)
SELECT term, exact_cnt, rnk,
       TRUE AS cms_ge_exact, TRUE AS cms_within_bound
FROM (
  SELECT term, exact_cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, term) AS INTEGER) AS rnk
  FROM cnt
) t WHERE rnk <= 20
""",
)
def cms_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 exact token counts checked against their Count-Min
    Sketch estimates (operators/sketch.py: 4×1024 counters built as
    one hash aggregate, probed via broadcast join).

    Tolerance oracle (upgraded from rows-only in r4): the raw
    estimates are xxhash64-seeded (no DuckDB twin), but the CMS
    CONTRACT is engine-independent — est ≥ exact always, and
    est ≤ exact + 2·e·N/width (double the standard Markov bound,
    N = total token occurrences) with the fixed deterministic seeds.
    Both are emitted as booleans the oracle asserts exactly;
    corpus-wide one-sidedness is additionally pinned in
    tests/test_operators.py."""
    from flink_realtime_edu_spark.operators.sketch import cms_build, cms_estimate

    tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    # Top-20 prefilter BEFORE the ranking window (VERDICT r10 fix):
    # orderBy().limit() plans as TakeOrderedAndProject (per-partition
    # heap), so the partition-less row_number window only ever sees a
    # 20-row frame, never the full web-scale vocabulary. (exact_cnt,
    # term) is a total order, so the prefix is value-identical.
    top = exact.orderBy(F.col("exact_cnt").desc(), "term").limit(20)
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    cms = cms_build(tok, "term", width=1024, depth=4)
    est = cms_estimate(cms, tok, "term", width=1024, depth=4)
    w = Window.orderBy(F.col("exact_cnt").desc(), F.col("term"))
    bound = 2.0 * 2.718281828459045 * F.col("n_total") / 1024
    return (
        top.join(est, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "term",
            "exact_cnt",
            "rnk",
            (F.col("est") >= F.col("exact_cnt")).alias("cms_ge_exact"),
            ((F.col("est") - F.col("exact_cnt")) <= bound).alias("cms_within_bound"),
        )
    )


# --------------------------------------------------------------------------
# X7/X4 — benchmark decontamination: n-gram overlap vs a held-out source
# --------------------------------------------------------------------------
_NGRAM = 7


@register(
    "benchmark_contamination",
    survey_rows=("X7", "X4", "J5", "F5"),
    oracle=f"""
WITH g AS (
  SELECT doc_id, source,
    list_distinct(CASE WHEN len(string_split(text, ' ')) >= {_NGRAM}
      THEN list_transform(range(1, len(string_split(text, ' ')) - {_NGRAM} + 2),
             i -> array_to_string(list_slice(string_split(text, ' '),
                                             i, i + {_NGRAM} - 1), ' '))
      ELSE [] END) AS grams
  FROM documents),
ex AS (SELECT doc_id, source, UNNEST(grams) AS gram FROM g),
bench AS (SELECT DISTINCT gram FROM ex WHERE source = 'src0')
SELECT e.doc_id AS doc_id,
  COUNT(*) AS n_grams,
  COUNT(*) FILTER (WHERE b.gram IS NOT NULL) AS n_contaminated,
  ROUND(CAST(COUNT(*) FILTER (WHERE b.gram IS NOT NULL) AS DOUBLE)
        / COUNT(*), 6) AS contamination,
  CASE WHEN COUNT(*) FILTER (WHERE b.gram IS NOT NULL) > 0
       THEN 1 ELSE 0 END AS flagged
FROM ex e LEFT JOIN bench b ON e.gram = b.gram
WHERE e.source <> 'src0'
GROUP BY e.doc_id
""",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check: treat source src0 as the held-out
    benchmark; for every other document, the fraction of its
    distinct 7-gram shingles that also occur anywhere in src0 —
    the n-gram-overlap contamination test LLM training pipelines run
    before training (docstring-level parity with the public recipe:
    distinct grams per doc, any-hit flag + fraction).

    Spark shape: gram construction is all higher-order functions
    (sequence/transform/slice → JVM, no UDF), one explode, then a
    LEFT join against the DISTINCT benchmark gram set — keyed on
    xxhash64(gram), so the shuffle moves 8-byte keys instead of
    ~50-byte 7-gram strings (measured 24.8 s → see BASELINE.md r5 at
    the 100× corpus; ~6× fewer shuffle bytes). The DuckDB oracle
    joins the raw strings; hash equality differs only on a 64-bit
    collision between a corpus gram and a bench gram (~1e-8 odds at
    10^6 distinct grams — deterministic, and the oracle would catch
    it)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(_NGRAM - 1))
    grams = F.when(
        F.size(toks) >= _NGRAM,
        F.array_distinct(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, _NGRAM)))
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = d.select(
        "doc_id", "source", F.explode(grams).alias("gram")
    ).select("doc_id", "source", F.xxhash64("gram").alias("gram_h"))
    bench = (
        ex.filter(F.col("source") == "src0").select("gram_h").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        ex.filter(F.col("source") != "src0")
        .join(bench, "gram_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "contamination"
            ),
            F.when(F.count("hit") > 0, 1).otherwise(0).alias("flagged"),
        )
    )


# --------------------------------------------------------------------------
# X7 — deterministic stratified sampling (training-mixture weighting)
# --------------------------------------------------------------------------
# Per-source keep rates expressed as md5-hex prefixes: a row is kept
# iff md5(doc_id) < threshold, so the sample is a pure function of the
# data (reproducible across engines, partitionings, and reruns — what
# a training-mixture pipeline needs for auditability). '8' = 50%,
# '4' = 25%, 'c' = 75%.
_MIX_RATES = {"src0": "c", "src1": "8", "src2": "4"}
_MIX_DEFAULT = "8"


def _mix_case_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN '{t}'" for s, t in sorted(_MIX_RATES.items())
    )
    return f"CASE {whens} ELSE '{_MIX_DEFAULT}' END"


@register(
    "mixture_sample_by_source",
    survey_rows=("X7", "F8", "A1"),
    oracle=f"""
SELECT source,
  COUNT(*) AS n_docs,
  COUNT(*) FILTER (WHERE md5(CAST(doc_id AS VARCHAR)) < {_mix_case_sql()})
    AS n_sampled
FROM documents
GROUP BY source
""",
)
def mixture_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampler: keep a document iff the md5
    of its id sorts below a per-source hex threshold (~75% of src0,
    50% of src1, 25% of src2, 50% elsewhere) — the data-mixture
    reweighting step of an LLM corpus build, as a pure filter instead
    of `sampleBy` (whose output depends on partitioning). md5 agrees
    across Spark/DuckDB, making even the sampled COUNT oracle-exact.
    Scale: a codegen'd filter — no shuffle, no state, no seed
    bookkeeping; changing mixture weights is a constant edit."""
    d = load(spark, sf_dir, "documents")
    thr = F.lit(_MIX_DEFAULT)
    for s, t in sorted(_MIX_RATES.items(), reverse=True):
        thr = F.when(F.col("source") == s, t).otherwise(thr)
    kept = F.md5(F.col("doc_id").cast("string")) < thr
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_sampled"),
    )


_UNIGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term <> '' GROUP BY doc_id, term
), cnt AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY term
), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM cnt)
SELECT tf.doc_id,
  CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
  {dec_avg_sql("tf.tf * ROUND(LN(CAST(tot.tot AS DOUBLE) / cnt.c), 6)",
               den="SUM(tf.tf)")} AS mean_surprisal_nats
FROM tf JOIN cnt ON tf.term = cnt.term CROSS JOIN tot
GROUP BY tf.doc_id
"""


@register(
    "doc_unigram_surprisal",
    survey_rows=("X7", "X1", "A1", "F3"),
    oracle=_UNIGRAM_ORACLE,
)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token surprisal −ln p(term) under the
    corpus-wide unigram MLE — the cross-entropy-style quality signal
    (low = repetitive/boilerplate, high = rare-token noise) a
    training-data pipeline scores every document with before
    perplexity-based filtering.

    Determinism: per-term surprisal is rounded to 6 dp (ln ulp
    agreement, the tfidf rule), then the tf-weighted mean uses the
    exact-decimal mean (``functions.dec_avg``) — hash-equal vs DuckDB.
    Scale: two hash aggregates and a dictionary-sized join on term
    (AQE broadcasts it); the corpus total is a one-row broadcast —
    same shape as tfidf_top_terms, no new shuffle."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # tf has three consumers (corpus counts, the scalar total, the
    # scoring join) — materialize once, same AQE no-reuse rationale
    # as tfidf_top_terms above.
    tf = _materialize(
        tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    cnt = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    tot = cnt.agg(F.sum("c").alias("tot"))
    s = F.round(F.log(F.col("tot").cast("double") / F.col("c")), 6)
    return (
        tf.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            dec_avg(F.col("tf") * s, den=F.sum("tf")).alias("mean_surprisal_nats"),
        )
    )


@register(
    "doc_repetition_stats",
    survey_rows=("X7", "X1", "A1", "W1", "F5"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS gram
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 1))) t(i)
), cnt AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         COUNT(*) AS n_distinct
  FROM cnt GROUP BY 1
), top AS (
  SELECT doc_id, gram AS top_gram, CAST(c AS BIGINT) AS top_gram_n,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
  FROM cnt
)
SELECT p.doc_id, p.n_grams, p.n_distinct,
       ROUND(1 - CAST(p.n_distinct AS DOUBLE) / p.n_grams, 6) AS dup_frac,
       t.top_gram, t.top_gram_n
FROM per_doc p JOIN top t ON p.doc_id = t.doc_id AND t.rn = 1
""",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher/RefinedWeb quality rule
    unigram TTR misses): per doc the 3-gram total/distinct counts,
    duplicate-gram fraction, and the most repeated 3-gram (count
    desc, gram string as the deterministic tie-breaker). High
    dup_frac = boilerplate/templating — a standard drop rule before
    training. Shingling matches the dedup operators exactly (3-word
    grams, short docs collapse to one whole-doc gram).

    Scale: explode → two (doc,gram)-keyed hash aggregates + a per-doc
    window on the already-aggregated (small) count table; no joins
    beyond the final doc-keyed one, which AQE plans broadcast-side."""
    from flink_realtime_edu_spark.functions import word_shingles

    d = load(spark, sf_dir, "documents")
    g = d.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("gram"))
    # cnt feeds the per-doc totals AND the top-gram window — AQE does
    # not stage-reuse the duplicated explode+agg subtree (same 4.1.2
    # behavior as operators/dedup.py::candidate_pairs), so materialize
    # the aggregated counts once (median 2.0 → 1.8 s at sf0.1).
    cnt = _materialize(
        g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"), F.count(F.lit(1)).alias("n_distinct")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("gram"))
    top = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("gram").alias("top_gram"), F.col("c").alias("top_gram_n"))
    )
    return per_doc.join(top, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(1 - F.col("n_distinct").cast("double") / F.col("n_grams"), 6).alias(
            "dup_frac"
        ),
        "top_gram",
        "top_gram_n",
    )


@register(
    "text_normalization_checksum",
    survey_rows=("X7", "F1", "F8", "A1"),
    oracle="""
WITH n AS (
  SELECT source, """
    + _NORMALIZE_SQL.format(col="text")
    + """ AS norm
  FROM documents WHERE text IS NOT NULL
)"""
    + """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(CAST(concat('0x', substr(md5(norm), 1, 15)) AS BIGINT)
                AS DECIMAL(30,0))) AS VARCHAR) AS norm_hash_sum
FROM n GROUP BY source
""",
)
def text_normalization_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization (NFC + control-strip + whitespace
    collapse, operators/textnorm.py) content-checked per source: the
    order-insensitive exact-decimal SUM of each normalized doc's
    60-bit md5 hash. Equality with the oracle proves the pandas-UDF
    normalizer reproduced DuckDB's independent
    nfc_normalize+regexp implementation on EVERY document — a
    content check, not a count check. (The corpus is ASCII-clean, so
    normalization is a near-no-op here; the unicode behavior itself
    is pinned on adversarial strings in tests/test_operators.py.)"""
    from flink_realtime_edu_spark.operators.dedup import md5_hash60
    from flink_realtime_edu_spark.operators.textnorm import normalize_text_udf

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    norm = d.select("source", normalize_text_udf()(F.col("text")).alias("norm"))
    return norm.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(md5_hash60(F.col("norm")).cast("decimal(30,0)"))
        .cast("string")
        .alias("norm_hash_sum"),
    )


_BIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), big AS (
  SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
  FROM (SELECT * FROM toks WHERE len(w) >= 2),
       unnest(generate_series(1, len(w) - 1)) t(i)
), tf AS (
  SELECT doc_id, prev, cur, COUNT(*) AS tf FROM big GROUP BY 1, 2, 3
), bc AS (
  SELECT prev, cur, CAST(SUM(tf) AS BIGINT) AS bc FROM tf GROUP BY 1, 2
), pc AS (
  SELECT prev, CAST(SUM(bc) AS BIGINT) AS pc FROM bc GROUP BY 1
), voc AS (
  SELECT COUNT(DISTINCT term) AS v
  FROM (SELECT UNNEST(w) AS term FROM toks)
), scored AS (
  SELECT tf.doc_id,
    CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
    {dec_avg_sql("tf.tf * ROUND(LN((pc.pc + 0.5 * voc.v) / (bc.bc + 0.5)), 6)",
                 den="SUM(tf.tf)")} AS mean_nll_nats
  FROM tf
  JOIN bc ON tf.prev = bc.prev AND tf.cur = bc.cur
  JOIN pc ON tf.prev = pc.prev
  CROSS JOIN voc
  GROUP BY tf.doc_id
)
SELECT doc_id, n_bigrams, mean_nll_nats,
       ROUND(EXP(mean_nll_nats), 6) AS perplexity
FROM scored
"""


@register(
    "doc_bigram_perplexity",
    survey_rows=("X7", "X1", "A1", "F3"),
    oracle=_BIGRAM_ORACLE,
)
def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained BIGRAM add-k
    language model (k = 0.5) — the standard pretraining quality gate
    beyond unigram surprisal (VERDICT r9 item 5): low perplexity =
    templated/boilerplate text, high = noise, the two tails a
    perplexity filter drops before training.

    Model: p(cur | prev) = (c(prev, cur) + k) / (c(prev) + k·V),
    trained on the WHOLE corpus in one (prev, cur) hash aggregate;
    context counts c(prev) fold from the bigram counts (no second
    corpus pass) and V is the corpus vocabulary size, a one-row
    broadcast. Scoring is one pass over per-doc bigram frequencies:
    join the model on (prev, cur) — dictionary-sized, AQE broadcasts
    it — then the per-bigram −ln p rounded to 6 dp (the tfidf ln-ulp
    rule) folds through the exact-decimal mean (``functions.dec_avg``);
    perplexity = exp of the ROUNDED mean, so both engines exponentiate
    the identical double. Tokens are whitespace words with empties
    dropped BEFORE pairing (adjacency is defined on the filtered
    list, both engines); docs with fewer than two tokens carry no
    bigram and are excluded by construction. Scale: two hash
    aggregates over bigrams (corpus + per-doc), vocabulary-sized
    joins, one scalar broadcast — the tfidf/surprisal shape, no new
    shuffle class."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("w"),
    )
    big = (
        toks.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(w, 1, size(w) - 1)").alias("p"),
                    F.expr("slice(w, 2, size(w) - 1)").alias("c"),
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.col("g.p").alias("prev"),
            F.col("g.c").alias("cur"),
        )
    )
    # tf feeds both the model aggregates and the scoring join —
    # materialize once (the tfidf AQE no-reuse rationale)
    tf = _materialize(
        big.groupBy("doc_id", "prev", "cur").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    bc = tf.groupBy("prev", "cur").agg(F.sum("tf").alias("bc"))
    pc = bc.groupBy("prev").agg(F.sum("bc").alias("pc"))
    voc = (
        toks.select(F.explode("w").alias("term"))
        .agg(F.count_distinct("term").alias("v"))
    )
    nll = F.round(
        F.log(
            (F.col("pc") + 0.5 * F.col("v")) / (F.col("bc") + F.lit(0.5))
        ),
        6,
    )
    scored = (
        tf.join(bc, ["prev", "cur"])
        .join(pc, "prev")
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            dec_avg(F.col("tf") * nll, den=F.sum("tf")).alias("mean_nll_nats"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "mean_nll_nats",
        F.round(F.exp("mean_nll_nats"), 6).alias("perplexity"),
    )


_MIX_ALPHA = 0.3  # XLM-R / mT5 sampling temperature


@register(
    "domain_temperature_mixture",
    survey_rows=("X7", "A1", "F3", "A5"),
    oracle=f"""
WITH tok AS (
  SELECT source,
    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
      AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM tok
), base AS (
  SELECT source, n_tokens,
         ROUND(LN(n_tokens * 1.0 / tot.total), 6) AS lnp
  FROM tok CROSS JOIN tot
), unn AS (
  SELECT source, n_tokens,
         ROUND(EXP(lnp), 6) AS p_share,
         ROUND(EXP({_MIX_ALPHA} * lnp), 6) AS q_un
  FROM base
), z AS (
  SELECT CAST(SUM(CAST(q_un AS DECIMAL(30,8))) AS DOUBLE) AS zsum FROM unn
)
SELECT source, n_tokens, p_share,
       ROUND(q_un / z.zsum, 6) AS q_share,
       ROUND(ROUND(q_un / z.zsum, 6) / p_share, 6) AS upsample_factor
FROM unn CROSS JOIN z
""",
)
def domain_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture weights (the multilingual
    sampling formula of XLM-R / mT5, Conneau et al. 2020 §3.1):
    q_i ∝ p_i^α with α = 0.3, where p_i is a source's token share —
    the step that COMPUTES the per-domain sampling rates a
    deterministic sampler (mixture_sample_by_source) then consumes.
    Low-resource domains upsample (q/p > 1), high-resource ones
    downsample — `upsample_factor` is that ratio.

    Exactness discipline: p^α = exp(α·ln p) with ln rounded to 6 dp
    first (the tfidf ln-ulp rule), exp results rounded to 6 dp, and
    the normalizer Σ q folded through DECIMAL(30,8) so summation
    order cannot move it — both engines then divide identical
    doubles. Scale: one hash aggregate over per-doc token counts
    (domains ≪ corpus), a one-row total broadcast, and domain-count-
    sized arithmetic — nothing here grows with corpus bytes."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    tok = (
        docs.select(
            "source",
            F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").cast("bigint").alias("n_tokens"))
    )
    tot = tok.agg(F.sum("n_tokens").cast("long").alias("total"))
    base = tok.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(F.log(F.col("n_tokens") / F.col("total")), 6).alias("lnp"),
    )
    unn = base.select(
        "source",
        "n_tokens",
        F.round(F.exp(F.col("lnp")), 6).alias("p_share"),
        F.round(F.exp(F.lit(_MIX_ALPHA) * F.col("lnp")), 6).alias("q_un"),
    )
    z = unn.agg(
        F.sum(dec_exact("q_un")).cast("double").alias("zsum")
    )
    q_share = F.round(F.col("q_un") / F.col("zsum"), 6)
    return unn.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        "p_share",
        q_share.alias("q_share"),
        F.round(q_share / F.col("p_share"), 6).alias("upsample_factor"),
    )


_DOREMI_ETA = 1.0   # Group-DRO step size
_DOREMI_S = 0.2     # uniform smoothing mass


@register(
    "doremi_domain_weights",
    survey_rows=("X7", "A1", "F3", "J1"),
    oracle=f"""
WITH uni AS (SELECT * FROM ({_UNIGRAM_ORACLE}) u),
big AS (SELECT * FROM ({_BIGRAM_ORACLE}) b),
ex AS (
  SELECT d.source,
         GREATEST(uni.mean_surprisal_nats - big.mean_nll_nats, 0) AS excess
  FROM uni
  JOIN big ON big.doc_id = uni.doc_id
  JOIN documents d ON d.doc_id = uni.doc_id
), agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    {dec_avg_sql('excess')} AS mean_excess
  FROM ex GROUP BY source
), upd AS (
  SELECT source, n_docs, mean_excess,
         ROUND(EXP({_DOREMI_ETA} * mean_excess), 6) AS boost
  FROM agg
), z AS (
  SELECT CAST(SUM(CAST(boost AS DECIMAL(30,8))) AS DOUBLE) AS zsum,
         COUNT(*) AS nd
  FROM upd
)
SELECT source, n_docs, mean_excess,
       ROUND(boost / z.zsum, 6) AS alpha,
       ROUND((1 - {_DOREMI_S}) * ROUND(boost / z.zsum, 6)
             + {_DOREMI_S} / z.nd, 6) AS domain_weight
FROM upd CROSS JOIN z
""",
)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of DoReMi domain reweighting (Xie et al. 2023,
    arXiv:2305.10429): upweight domains where the proxy model's loss
    EXCEEDS the reference model's (the Group-DRO excess-loss signal),
    then smooth toward uniform. The paper trains two small LMs; here
    the proxy is the corpus UNIGRAM model and the reference the
    corpus BIGRAM model (doc_unigram_surprisal / doc_bigram_perplexity
    verbatim — documented stand-ins with the same ordering semantics:
    bigram context explains away surprisal except where a domain's
    text resists, which is exactly the hard-domain signal DoReMi
    boosts). Per-doc clipped excess max(uni − bi, 0) → exact-decimal
    per-domain mean → α ∝ exp(η·excess) with uniform baseline
    (η = 1) → domain_weight = (1−s)·α + s/D (s = 0.2).

    Oracle: the two scoring oracles compose as subqueries (the
    media_dup_canonicals pattern), both already 6dp-rounded; excess
    is a difference of identical doubles, the domain mean is
    ``functions.dec_avg``, exp is rounded before the DECIMAL-folded
    normalizer — exact end to end. Docs with < 2 tokens carry no
    bigram score and drop from the excess join by construction (the
    perplexity contract). Scale: both scoring pipelines are the
    established tfidf shape; everything after is domain-cardinality
    arithmetic with one-row broadcasts."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    uni = doc_unigram_surprisal(spark, sf_dir).select(
        "doc_id", "mean_surprisal_nats"
    )
    big = doc_bigram_perplexity(spark, sf_dir).select(
        "doc_id", "mean_nll_nats"
    )
    ex = (
        uni.join(big, "doc_id")
        .join(docs, "doc_id")
        .select(
            "source",
            F.greatest(
                F.col("mean_surprisal_nats") - F.col("mean_nll_nats"),
                F.lit(0.0),
            ).alias("excess"),
        )
    )
    agg = ex.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        dec_avg("excess").alias("mean_excess"),
    )
    upd = agg.withColumn(
        "boost", F.round(F.exp(F.lit(_DOREMI_ETA) * F.col("mean_excess")), 6)
    )
    z = upd.agg(
        F.sum(dec_exact("boost")).cast("double").alias("zsum"),
        F.count(F.lit(1)).alias("nd"),
    )
    alpha = F.round(F.col("boost") / F.col("zsum"), 6)
    return upd.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "mean_excess",
        alpha.alias("alpha"),
        F.round(
            F.lit(1 - _DOREMI_S) * alpha + F.lit(_DOREMI_S) / F.col("nd"), 6
        ).alias("domain_weight"),
    )


_TRI_L3, _TRI_L2, _TRI_L1 = 0.5, 0.3, 0.2  # interpolation weights


@register(
    "doc_trigram_perplexity",
    survey_rows=("X7", "X1", "A1", "F3"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), tri AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
  FROM (SELECT * FROM toks WHERE len(w) >= 3),
       unnest(generate_series(1, len(w) - 2)) t(i)
), tf AS (
  SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM tri GROUP BY 1, 2, 3, 4
), c123 AS (
  SELECT w1, w2, w3, CAST(SUM(tf) AS BIGINT) AS c123 FROM tf GROUP BY 1, 2, 3
), c12 AS (
  SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12 FROM c123 GROUP BY 1, 2
), big AS (
  SELECT doc_id, w[i] AS w2, w[i + 1] AS w3
  FROM (SELECT * FROM toks WHERE len(w) >= 2),
       unnest(generate_series(1, len(w) - 1)) t(i)
), c23 AS (
  SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS c23 FROM big GROUP BY 1, 2
), c2 AS (
  SELECT w2, CAST(SUM(c23) AS BIGINT) AS c2 FROM c23 GROUP BY 1
), uni AS (
  SELECT UNNEST(w) AS w3 FROM toks
), c3 AS (
  SELECT w3, CAST(COUNT(*) AS BIGINT) AS c3 FROM uni GROUP BY 1
), nn AS (
  SELECT CAST(SUM(c3) AS BIGINT) AS n FROM c3
), scored AS (
  SELECT tf.doc_id,
    CAST(SUM(tf.tf) AS BIGINT) AS n_trigrams,
    CAST(SUM(tf.tf * CAST(ROUND((-LN(
        CAST({_TRI_L3} AS DOUBLE) * c123.c123 / c12.c12
      + CAST({_TRI_L2} AS DOUBLE) * c23.c23 / c2.c2
      + CAST({_TRI_L1} AS DOUBLE) * c3.c3 / nn.n
    )) * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_unll
  FROM tf
  JOIN c123 ON tf.w1 = c123.w1 AND tf.w2 = c123.w2 AND tf.w3 = c123.w3
  JOIN c12 ON tf.w1 = c12.w1 AND tf.w2 = c12.w2
  JOIN c23 ON tf.w2 = c23.w2 AND tf.w3 = c23.w3
  JOIN c2 ON tf.w2 = c2.w2
  JOIN c3 ON tf.w3 = c3.w3
  CROSS JOIN nn
  GROUP BY tf.doc_id
), meaned AS (
  SELECT doc_id, n_trigrams,
         ((2 * sum_unll + n_trigrams) // (2 * n_trigrams)) / 1000000.0
           AS mean_nll_nats
  FROM scored
)
SELECT doc_id, n_trigrams, mean_nll_nats,
       ROUND(EXP(mean_nll_nats), 6) AS perplexity
FROM meaned
""",
)
def doc_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained INTERPOLATED
    trigram LM — the Jelinek–Mercer / KenLM-style backoff step past
    the add-k bigram (doc_bigram_perplexity):
    p(w3|w1 w2) = λ3·c(w1w2w3)/c(w1w2) + λ2·c(w2w3)/c(w2) + λ1·c(w3)/N
    with fixed λ = (0.5, 0.3, 0.2). Every component is an MLE ratio
    over corpus counts; for a trigram a doc actually CARRIES, all
    three denominators are ≥ its own occurrence, so no zero-guard is
    needed — interpolation is what keeps the probability finite where
    a pure trigram MLE would be brittle.

    Exactness: the interpolated probability is a fixed-order double
    expression over BIGINT counts (identical in both engines), and
    the per-trigram −ln is carried as an exact INTEGER in micro-nats
    (round(−ln·1e6)); the per-doc mean is then the integer half-up
    division (2·Σ + n) div (2n), identical in both engines BY
    CONSTRUCTION. That replaces the usual round(DECIMAL-mean, 6)
    step, which this query showed to be tie-UNSAFE: a sum of 6-dp
    values divided by a doc's trigram count lands EXACTLY on …5 at
    the 7th decimal with probability ~1/count (structurally, not
    measure-zero — one sf0.001 doc hit it), and Spark (HALF_UP on
    the double's exact binary expansion) and DuckDB
    (floor(x·1e6 + 0.5)) resolve such ties differently. Perplexity
    exponentiates the identical mean double. Docs with < 3 tokens
    carry no trigram and are excluded by construction. Scale: three model hash aggregates (trigram /
    bigram / unigram counts — each dictionary-sized after partial
    aggregation), dictionary joins AQE broadcasts, one scalar
    broadcast; the tfidf family shape one order up."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("w"),
    )
    tri = (
        toks.filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(w, 1, size(w) - 2)").alias("a"),
                    F.expr("slice(w, 2, size(w) - 2)").alias("b"),
                    F.expr("slice(w, 3, size(w) - 2)").alias("c"),
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.col("g.a").alias("w1"),
            F.col("g.b").alias("w2"),
            F.col("g.c").alias("w3"),
        )
    )
    tf = _materialize(
        tri.groupBy("doc_id", "w1", "w2", "w3").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    c123 = tf.groupBy("w1", "w2", "w3").agg(F.sum("tf").alias("c123"))
    c12 = c123.groupBy("w1", "w2").agg(F.sum("c123").alias("c12"))
    big = (
        toks.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(w, 1, size(w) - 1)").alias("b"),
                    F.expr("slice(w, 2, size(w) - 1)").alias("c"),
                )
            ).alias("g"),
        )
        .select(F.col("g.b").alias("w2"), F.col("g.c").alias("w3"))
    )
    c23 = _materialize(
        big.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("c23"))
    )
    c2 = c23.groupBy("w2").agg(F.sum("c23").alias("c2"))
    uni = toks.select(F.explode("w").alias("w3"))
    c3 = _materialize(uni.groupBy("w3").agg(F.count(F.lit(1)).alias("c3")))
    nn = c3.agg(F.sum("c3").alias("n"))
    p = (
        F.lit(_TRI_L3) * F.col("c123") / F.col("c12")
        + F.lit(_TRI_L2) * F.col("c23") / F.col("c2")
        + F.lit(_TRI_L1) * F.col("c3") / F.col("n")
    )
    # per-trigram NLL in exact integer MICRO-NATS, and the mean as an
    # integer half-up division — see the docstring's tie note
    unll = F.round(-F.log(p) * F.lit(1000000.0), 0).cast("long")
    scored = (
        tf.join(c123, ["w1", "w2", "w3"])
        .join(c12, ["w1", "w2"])
        .join(c23, ["w2", "w3"])
        .join(c2, "w2")
        .join(c3, "w3")
        .crossJoin(F.broadcast(nn))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_trigrams"),
            F.sum(F.col("tf") * unll).alias("sum_unll"),
        )
    )
    mean = (
        F.expr("(2 * sum_unll + n_trigrams) div (2 * n_trigrams)")
        / F.lit(1000000.0)
    )
    return scored.select(
        "doc_id",
        "n_trigrams",
        mean.alias("mean_nll_nats"),
        F.round(F.exp(mean), 6).alias("perplexity"),
    )
