"""BPE merge learning AND apply — the tokenizer round-trip over the
corpus (SURVEY.md §2.10 X7/X1 extension; Sennrich et al., "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016 —
public).

Two halves:

- **learn** (``bpe_merge_learning``): classic byte-pair encoding —
  start from characters, repeatedly count adjacent symbol pairs
  across the corpus (weighted by word frequency) and merge the most
  frequent pair into one symbol.
- **apply** (``bpe_encode_stats`` / ``bpe_sequence_packing`` /
  ``bpe_token_budget_sample``): encode the corpus with the LEARNED
  merge table and feed the real subword token counts into the
  packing / budget-sampling machinery (queries/packing.py), which
  otherwise runs on whitespace tokens. This closes the loop a real
  training-data pipeline runs: learn tokenizer → tokenize → pack.

Spark-first decomposition (the k-means discipline — iterative
algorithms want small driver state and one job per pass):

- the corpus collapses ONCE to the distinct-word frequency frame
  (orders smaller than the corpus; the only stage that touches full
  text), each word represented as a space-delimited symbol string;
- each learning round is one aggregation job over that frame (explode
  adjacent pairs → sum(freq) → global top-1 with a lexicographic
  tie-break), and the driver carries only the learned merge list;
- applying a merge is a single literal `replace` of " l r " with
  " lr " over the symbol strings — no UDF, no extra shuffle. The
  ENCODER is therefore a chain of ``n_merges`` JVM-side replaces
  over the vocabulary frame (never the corpus): word → subword
  tokens is a vocabulary-sized lookup table that documents join
  against. At 100 TB the vocab frame is ~10^7 rows (~100 MB) —
  broadcastable or a cheap shuffle join, AQE's call; the corpus text
  is scanned exactly once to explode words. A production tokenizer
  with 50k merges would swap the replace chain for a vectorized
  pandas-UDF encoder over the SAME vocab frame (per-word encode,
  still never per-document) — the plumbing here is the scale shape.

Dual-engine exactness: symbol strings are built with the SAME
regexp_replace('([\\s\\S])' → char + space) in both engines — the
class form, not '.', because Java's dot excludes all five line
terminators while RE2's excludes only \\n, so '(.)' silently
diverges on \\r/U+2028-bearing words ([\\s\\S] matches every char
in both) — and both
engines' `replace` scan left-to-right non-overlapping (verified
bit-identical, including the shared-boundary-space case " a b a b "
→ " ab a b "). SCOPE: the char split is BMP-only — Spark/Java regex
operates on UTF-16 code units while DuckDB's RE2 operates on
codepoints, so an astral character (emoji, supplementary CJK) would
split into two surrogate halves on the Spark side only. The corpus
is ASCII-clean so this is latent; a non-BMP corpus needs a
codepoint-safe split (a pandas UDF over the vocab frame — cheap,
it never touches the corpus) before the oracle comparison holds.
With that caveat, the DuckDB oracle replays the identical
rounds as chained CTEs and must reproduce every (round, left,
right, pair_count) row — and every per-document token count —
exactly. The single-scan merge is the distributed-friendly variant
of canonical greedy BPE; they differ only on immediately-adjacent
repeats of the merged pair (" a a a " merges once, not twice) —
deterministically, in both engines.

Scale: learning is rounds × one shuffle over the distinct-word
frame; encoding is one corpus scan + a vocab join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load

_N_MERGES = 5  # learning demo (bpe_merge_learning)
_N_MERGES_APPLY = 8  # learned-tokenizer apply queries

# One round of pair counting + top-1 selection, as SQL over a symbol
# frame named {src}. Produces the best (left, right, c).
_PAIR_BEST = """
SELECT s.l AS "left", s.r AS "right", SUM(s.freq) AS c FROM (
  SELECT freq, sy[i] AS l, sy[i + 1] AS r
  FROM (SELECT freq, string_split(trim(symstr), ' ') AS sy FROM {src}),
       unnest(generate_series(1, greatest(len(sy) - 1, 0))) t(i)
) s GROUP BY 1, 2 ORDER BY c DESC, "left", "right" LIMIT 1
"""

_MERGE_STEP = """
SELECT w, freq, replace(symstr,
    ' ' || (SELECT "left" FROM b{i}) || ' ' || (SELECT "right" FROM b{i}) || ' ',
    ' ' || (SELECT "left" FROM b{i}) || (SELECT "right" FROM b{i}) || ' ') AS symstr
FROM r{prev}
"""


def _bpe_chain(n_merges: int) -> str:
    """The shared oracle prefix: distinct corpus words → symbol
    strings → ``n_merges`` learning rounds. Leaves CTEs ``b1..bN``
    (the merges) and ``r0..rN`` (symbol frames; ``rN`` has every
    merge applied) in scope. Word identity ``w`` rides the chain so
    apply-side CTEs can map word → final tokens."""
    parts = [
        """WITH words AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS w FROM documents
  ) WHERE w <> '' GROUP BY w
), r0 AS MATERIALIZED (
  SELECT w, freq, ' ' || regexp_replace(w, '([\\s\\S])', '\\1 ', 'g') AS symstr
  FROM words
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f", b{i} AS MATERIALIZED ({_PAIR_BEST.format(src=f'r{i - 1}')})")
        parts.append(f", r{i} AS MATERIALIZED ({_MERGE_STEP.format(i=i, prev=i - 1)})")
    return "".join(parts)


# Apply-side oracle CTEs shared by the three encode queries: the
# word → (tokens, n_bpe) vocabulary from the fully-merged symbol
# frame, and the per-(doc, word-instance) join against it.
def _bpe_vocab_ctes(n_merges: int) -> str:
    return (
        _bpe_chain(n_merges)
        + f"""
, vocab AS MATERIALIZED (
  SELECT w, string_split(trim(symstr), ' ') AS toks,
         len(string_split(trim(symstr), ' ')) AS n_bpe
  FROM r{n_merges}
), docwords AS MATERIALIZED (
  SELECT doc_id, source, w FROM (
    SELECT doc_id, source,
           unnest(string_split(COALESCE(text, ''), ' ')) AS w
    FROM documents
  ) WHERE w <> ''
), j AS MATERIALIZED (
  SELECT dw.doc_id, dw.source, v.toks, v.n_bpe
  FROM docwords dw JOIN vocab v USING (w)
)"""
    )


def _bpe_oracle(n_merges: int) -> str:
    selects = [
        f'SELECT {i} AS round, "left", "right", CAST(c AS BIGINT) AS pair_count FROM b{i}'
        for i in range(1, n_merges + 1)
    ]
    return _bpe_chain(n_merges) + "\n" + "\nUNION ALL\n".join(selects)


def _word_symbols(d: DataFrame) -> DataFrame:
    """documents → distinct-word symbol frame (w, freq, symstr):
    the ONLY stage that reads full text; everything after is
    vocabulary-sized."""
    words = (
        d.select(
            F.explode(F.split(F.coalesce("text", F.lit("")), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.select(
        "w",
        "freq",
        F.concat(F.lit(" "), F.regexp_replace("w", r"([\s\S])", "$1 ")).alias(
            "symstr"
        ),
    )


def _learn_merges(
    sym: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run ``n_merges`` learning rounds over a (persisted) symbol
    frame. Returns (merge rows, the frame with every merge applied as
    a lazy chain of JVM replaces). One aggregation job per round;
    driver state = the merge list."""
    syms = F.split(F.trim("symstr"), " ")
    n = F.size(syms)
    # guard n < 2: sequence(1, n-1) with n=1 is sequence(1, 0),
    # which COUNTS DOWN ([1, 0] — default step -1), and the i=0
    # index would then hit element_at(sy, 0) → ANSI error; DuckDB's
    # generate_series(1, 0) is empty, so the guard also keeps the
    # two engines on the same (empty) pair set for 1-symbol words.
    pair_idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    rows: list[tuple[int, str, str, int]] = []
    cur = sym
    for rnd in range(1, n_merges + 1):
        pairs = (
            cur.select(
                "freq",
                F.explode(pair_idx).alias("i"),
                syms.alias("sy"),
            )
            .select(
                "freq",
                F.element_at("sy", F.col("i")).alias("left"),
                F.element_at("sy", F.col("i") + 1).alias("right"),
            )
            .groupBy("left", "right")
            .agg(F.sum("freq").alias("c"))
        )
        best = pairs.orderBy(
            F.col("c").desc(), F.col("left"), F.col("right")
        ).first()
        if best is None:
            raise ValueError(
                f"BPE round {rnd}: no adjacent pairs in the corpus "
                "(empty documents or single-character words only)"
            )
        rows.append((rnd, best["left"], best["right"], int(best["c"])))
        cur = cur.withColumn(
            "symstr",
            F.replace(
                F.col("symstr"),
                F.lit(f" {best['left']} {best['right']} "),
                F.lit(f" {best['left']}{best['right']} "),
            ),
        )
    return rows, cur


def bpe_apply_merges(symstr: Column, merges: list[tuple[str, str]]) -> Column:
    """ENCODER: apply a learned merge table (rank order) to a symbol
    string — a chain of JVM-side literal replaces, one per merge,
    identical semantics to the learner's per-round application. Meant
    for vocabulary-sized frames (word → tokens lookup), never raw
    documents."""
    for left, right in merges:
        symstr = F.replace(
            symstr, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        )
    return symstr


def _learned_vocab(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> DataFrame:
    """Learn ``n_merges`` merges over documents and return the
    word → subword vocabulary frame (w, toks array, n_bpe). The
    symbol frame is persisted across learning rounds and the final
    encode; callers must not re-trigger learning per use — join
    against the returned frame."""
    d = load(spark, sf_dir, "documents")
    sym = _word_symbols(d).persist()
    try:
        merges, _ = _learn_merges(sym, n_merges)
    finally:
        sym.unpersist()
    # Re-apply the learned merges as one lazy chain (cheap: the chain
    # re-derives from the persisted-scan lineage; learning already
    # collected the table, so encode is a single vocab-frame pass).
    encoded = _word_symbols(d).withColumn(
        "symstr", bpe_apply_merges(F.col("symstr"), [(l, r) for _, l, r, _ in merges])
    )
    toks = F.split(F.trim("symstr"), " ")
    return encoded.select("w", toks.alias("toks"), F.size(toks).alias("n_bpe"))


def _doc_bpe_counts(spark: SparkSession, sf_dir: str, n_merges: int) -> DataFrame:
    """Per-document BPE accounting: (doc_id, source, n_ws_toks,
    n_bpe_toks) via one corpus word-explode joined to the learned
    vocabulary. Inner join is total: the vocab is built from the same
    corpus, so every non-empty word is present."""
    d = load(spark, sf_dir, "documents")
    vocab = _learned_vocab(spark, sf_dir, n_merges)
    dw = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.coalesce("text", F.lit("")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    return (
        dw.join(vocab, on="w")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_ws_toks"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_toks"),
        )
    )


@register(
    "bpe_merge_learning",
    survey_rows=("X7", "X1", "F1", "A1"),
    oracle=_bpe_oracle(_N_MERGES),
)
def bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first five BPE merges over the documents corpus: one
    row per round — (round, left, right, pair_count), the merge table
    a subword tokenizer trainer emits. See the module docstring for
    the iteration/scale shape and the dual-engine merge semantics."""
    d = load(spark, sf_dir, "documents")
    sym = _word_symbols(d).select("symstr", "freq").persist()
    try:
        rows, _ = _learn_merges(sym, _N_MERGES)
        return spark.createDataFrame(
            rows, "round int, left string, right string, pair_count bigint"
        )
    finally:
        sym.unpersist()


@register(
    "bpe_encode_stats",
    survey_rows=("X7", "X1", "F1", "J1", "A1"),
    oracle=_bpe_vocab_ctes(_N_MERGES_APPLY)
    + """
, cnt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws_toks,
         CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_toks
  FROM j GROUP BY doc_id
), dis AS (
  SELECT doc_id, CAST(COUNT(DISTINCT t) AS BIGINT) AS n_distinct_bpe
  FROM (SELECT doc_id, unnest(toks) AS t FROM j) GROUP BY doc_id
)
SELECT cnt.doc_id, n_ws_toks, n_bpe_toks, n_distinct_bpe,
       ROUND(CAST(n_bpe_toks AS DOUBLE) / n_ws_toks, 6) AS bpe_per_word
FROM cnt JOIN dis ON cnt.doc_id = dis.doc_id
""",
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the corpus-LEARNED 8-merge BPE
    table (the apply half of bpe_merge_learning) and report per-doc
    whitespace-word count, subword token count, DISTINCT subword
    count, and fertility (bpe tokens per word). The distinct count
    verifies token IDENTITY, not just arithmetic — the oracle
    re-learns the same merges in SQL and must reproduce the exact
    token multiset per document.

    Plan shape: learning = 8 vocab-frame aggregations; encode = one
    corpus word-explode hash-joined to the vocab lookup (AQE
    broadcasts it at this scale), one groupBy(doc_id). The
    flatten(collect_list) keeps distinct-counting in the same single
    shuffle — per-doc token lists are doc-sized, bounded like
    doc_chunking_windows."""
    d = load(spark, sf_dir, "documents")
    vocab = _learned_vocab(spark, sf_dir, _N_MERGES_APPLY)
    dw = d.select(
        "doc_id",
        F.explode(F.split(F.coalesce("text", F.lit("")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    per_doc = (
        dw.join(vocab, on="w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ws_toks"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_toks"),
            F.size(F.array_distinct(F.flatten(F.collect_list("toks"))))
            .cast("bigint")
            .alias("n_distinct_bpe"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_ws_toks",
        "n_bpe_toks",
        "n_distinct_bpe",
        F.round(F.col("n_bpe_toks").cast("double") / F.col("n_ws_toks"), 6).alias(
            "bpe_per_word"
        ),
    )


_CTX = 2048  # context window (tokens), matches queries/packing.py


@register(
    "bpe_sequence_packing",
    survey_rows=("X7", "X1", "W4", "F2"),
    oracle=_bpe_vocab_ctes(_N_MERGES_APPLY)
    + f"""
, perdoc AS (
  SELECT doc_id, SUM(n_bpe) AS nb FROM j GROUP BY doc_id
), t AS (
  SELECT d.source, d.doc_id,
         greatest(COALESCE(p.nb, 0), 1) AS n_toks
  FROM documents d LEFT JOIN perdoc p USING (doc_id)
), c AS (
  SELECT source, doc_id, n_toks,
         COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(cum_before // {_CTX} AS BIGINT) AS start_chunk,
       CAST(cum_before % {_CTX} AS BIGINT) AS start_offset,
       CAST((cum_before + n_toks - 1) // {_CTX} - cum_before // {_CTX} + 1 AS BIGINT)
         AS n_chunks_spanned
FROM c
""",
)
def bpe_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence_packing_chunks with REAL tokenizer counts: the packed
    2048-token context-window layout computed over learned-BPE token
    counts instead of whitespace tokens — the tokenizer="bpe" path of
    the packing machinery (same two-level sharded prefix sum,
    queries/packing.py::_sharded_cum_before). Empty docs pack as one
    token slot (greatest(·,1), matching the whitespace variant's
    floor). The oracle re-learns the merges, re-encodes, and replays
    the same window arithmetic."""
    from flink_realtime_edu_spark.queries.packing import (
        _SHARD_SPAN,
        _sharded_cum_before,
    )

    d = load(spark, sf_dir, "documents")
    per_doc = _doc_bpe_counts(spark, sf_dir, _N_MERGES_APPLY).select(
        "doc_id", F.col("n_bpe_toks").alias("nb")
    )
    t = d.select("source", "doc_id").join(per_doc, on="doc_id", how="left").select(
        "source",
        "doc_id",
        F.greatest(F.coalesce("nb", F.lit(0)), F.lit(1)).alias("n_toks"),
    )
    c = _sharded_cum_before(t, F.expr(f"doc_id div {_SHARD_SPAN}"), ["doc_id"])
    return c.select(
        "source",
        "doc_id",
        F.col("n_toks").cast("bigint").alias("n_toks"),
        F.expr(f"cum_before div {_CTX}").alias("start_chunk"),
        (F.col("cum_before") % _CTX).cast("bigint").alias("start_offset"),
        F.expr(f"(cum_before + n_toks - 1) div {_CTX}").alias("end_chunk"),
    ).select(
        "source",
        "doc_id",
        "n_toks",
        "start_chunk",
        "start_offset",
        (F.col("end_chunk") - F.col("start_chunk") + 1).alias("n_chunks_spanned"),
    )


_BUDGET = 20_000  # per-source token budget, matches queries/packing.py


@register(
    "bpe_token_budget_sample",
    survey_rows=("X7", "F8", "A2"),
    oracle=_bpe_vocab_ctes(_N_MERGES_APPLY)
    + f"""
, perdoc AS (
  SELECT doc_id, SUM(n_bpe) AS nb FROM j GROUP BY doc_id
), t AS (
  SELECT d.source, d.doc_id,
         greatest(COALESCE(p.nb, 0), 1) AS n_toks,
         md5(CAST(d.doc_id AS VARCHAR)) AS shuffle_key
  FROM documents d LEFT JOIN perdoc p USING (doc_id)
), c AS (
  SELECT source, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY shuffle_key, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source,
       CAST(COUNT(*) FILTER (WHERE cum <= {_BUDGET}) AS BIGINT) AS n_docs_kept,
       CAST(COALESCE(SUM(n_toks) FILTER (WHERE cum <= {_BUDGET}), 0) AS BIGINT)
         AS tokens_kept,
       CAST(COUNT(*) AS BIGINT) AS n_docs_total
FROM c GROUP BY source
""",
)
def bpe_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_budget_sample with learned-BPE token counts: per source,
    keep the md5(doc_id)-ordered prefix whose running SUBWORD-token
    sum fits the 20k budget — the budget a trainer actually meters is
    tokenizer tokens, not whitespace words. Same two-level sharded
    running sum (shard = first hex char of the shuffle key)."""
    from flink_realtime_edu_spark.queries.packing import _sharded_cum_before

    d = load(spark, sf_dir, "documents")
    per_doc = _doc_bpe_counts(spark, sf_dir, _N_MERGES_APPLY).select(
        "doc_id", F.col("n_bpe_toks").alias("nb")
    )
    t = d.select("source", "doc_id").join(per_doc, on="doc_id", how="left").select(
        "source",
        "doc_id",
        F.greatest(F.coalesce("nb", F.lit(0)), F.lit(1)).alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
    )
    c = _sharded_cum_before(
        t, F.substring("shuffle_key", 1, 1), ["shuffle_key", "doc_id"]
    ).withColumn("cum", F.col("cum_before") + F.col("n_toks"))
    kept = F.col("cum") <= _BUDGET
    return c.groupBy("source").agg(
        F.sum(kept.cast("bigint")).alias("n_docs_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_toks"))), F.lit(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.count(F.lit(1)).alias("n_docs_total"),
    )


def bpe_encode_udf_vocab(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """PRODUCTION-SCALE encoder variant: apply a merge table of ANY
    size to a (w, freq, symstr)-shaped vocab frame via one
    Arrow-batched pandas UDF instead of a chained-replace expression
    — a 50k-merge tokenizer cannot compile as 50k Catalyst replaces,
    but a rank-dict loop per word is O(|word| · matches). Same
    single-scan merge semantics as :func:`bpe_apply_merges` (each
    merge applied once, left-to-right, in rank order), asserted equal
    on the learned table by tests/test_packing.py. Still vocab-frame
    work — the corpus is never touched."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    merge_list = [(f" {l} {r} ", f" {l}{r} ") for l, r in merges]

    # plain signature (no pd.Series hints): the hints resolve against
    # module globals, and pandas is imported function-locally here.
    @pandas_udf("string")
    def apply_merges(symstr):
        def enc(s: str) -> str:
            for pat, rep in merge_list:
                s = s.replace(pat, rep)
            return s

        return symstr.map(enc)

    return words.withColumn("symstr", apply_merges("symstr"))
