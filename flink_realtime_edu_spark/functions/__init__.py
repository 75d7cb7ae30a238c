"""Column-expression helpers shared across queries.

The exact-decimal rounding contract
-----------------------------------
Money/measure columns in the testdata are DOUBLE (FIXTURES.md). A
plain ``SUM(double)`` is order-dependent in the last ulps, so Spark
and DuckDB would disagree on the value hash. Every rounded sum or
mean therefore goes through one pair of twins defined here —
:func:`dec_sum` / :func:`dec_avg` on DataFrames, :func:`dec_sum_sql`
/ :func:`dec_avg_sql` in oracle strings and in SQL text that Spark
and DuckDB both run — and no query spells the rule out by hand
(``tests/test_decimal_bounds.py`` lints for copies):

1. cast each row to an exact decimal with 8 places and SUM it (exact,
   so partitioning and shuffle order cannot change the total);
2. round the EXACT decimal HALF_UP (ties away from zero) to the
   requested scale — a mean divides the exact sum by its integer
   count first, with the rounding done in exact arithmetic (see
   :func:`dec_avg_sql`);
3. only then cast to DOUBLE.

Both engines round decimals HALF_UP and both cast a decimal to the
nearest double, so the DOUBLE the caller sees is bit-identical.
Step 1 is exact only for rows with at most 8 decimals, the money
columns' case: a double whose 9th decimal is a tie casts differently
(1.000000005 → Spark 1.00000001 from its shortest decimal string,
DuckDB 1.00000000 from the binary value).
Rounding AFTER the DOUBLE cast is not: at an exact half-cent tie
(0.1 + 0.045) Spark rounds the double's shortest decimal string up
(0.15) while DuckDB rounds its binary value, which sits just below
the tie (0.14). This is the M0 decision from SURVEY.md §7 "hard
parts #1".

At 100 TB this costs one extra cast per row inside the hash
aggregate — still whole-stage-codegen'd, still map-side partial
aggregation; it does NOT add a shuffle. The rounding runs once per
group (or window row), not per input row.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# Per-ROW cast target. Precision 18 is the widest decimal Spark
# stores long-backed (Decimal.MAX_LONG_DIGITS): at 30,8 every input
# row allocated a heap BigDecimal inside the hash aggregate, and the
# single-scan pricing stage spent ~2× the CPU (measured r13:
# pricing_summary partial-agg stage 0.97 s → ~0.5 s CPU at sf0.1).
# The SUM result type is decimal(p+10, s) either way, so the
# accumulator is exact and the DOUBLE the caller sees is
# bit-identical to the DuckDB oracle's DECIMAL(30,8) twin as long as
# no per-row value overflows: |x| < 10^10 (testdata maxima ~5×10^5 —
# prices, quantities, event values; a future column near 10^10 must
# widen this or the cast fails). Sum capacity decimal(28,8) ≈
# 10^20 absolute — 10^12 rows of 10^6-scale money still exact.
_DEC = "decimal(18,8)"
# The SQL twins' per-row cast. SQL text that Spark runs as well
# (shared tpch/subqueries strings) also uses it there.
_SQL_DEC = "DECIMAL(30,8)"

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def dec_exact(c: ColumnOrName) -> Column:
    """Step 1 alone: the per-row exact decimal, for a caller that sums
    in phases (operators/skew.py) and finishes with :func:`dec_round`."""
    return _col(c).cast(_DEC)


def dec_round(total: Column, scale: int = 2) -> Column:
    """Steps 2 and 3 on an exact decimal total: ROUND, then DOUBLE."""
    return F.round(total, scale).cast("double")


def dec_sum(c: ColumnOrName, scale: int = 2, over: WindowSpec | None = None) -> Column:
    """Order-independent SUM over a DOUBLE column, rounded on the
    exact decimal, then cast to DOUBLE. ``over`` makes it a window
    aggregate. Twin: :func:`dec_sum_sql`."""
    total = F.sum(dec_exact(c))
    if over is not None:
        total = total.over(over)
    return dec_round(total, scale)


def dec_avg(
    c: ColumnOrName,
    scale: int = 6,
    over: WindowSpec | None = None,
    den: Column | None = None,
) -> Column:
    """Order-independent mean: the exact decimal sum divided by the
    row count, rounded HALF_UP at ``scale`` in exact arithmetic, then
    cast to DOUBLE. ``over`` makes sum and count window aggregates;
    ``den`` replaces the count with another positive integer
    aggregate (a ratio such as Σ(tf·s) / Σ tf). Twin:
    :func:`dec_avg_sql`, whose shape this mirrors step for step."""
    total = F.sum(dec_exact(c))
    if den is None:
        den = F.count(F.lit(1))
        if over is not None:
            den = den.over(over)
    if over is not None:
        total = total.over(over)
    num = F.abs(total) * F.lit(2 * 10**scale).cast(f"decimal({scale + 1},0)") + den
    quot = F.round((num - num % (den * 2)) / (den * 2), 0)
    return F.signum(total) * quot / F.lit(10.0**scale)


def dec_sum_sql(expr: str, scale: int = 2, over: str | None = None) -> str:
    """SQL twin of :func:`dec_sum`. ``over`` is the text after OVER:
    a window name or a parenthesised window spec."""
    win = f" OVER {over}" if over else ""
    return f"CAST(ROUND(SUM(CAST({expr} AS {_SQL_DEC})){win}, {scale}) AS DOUBLE)"


def dec_avg_sql(
    expr: str, scale: int = 6, over: str | None = None, den: str | None = None
) -> str:
    """SQL twin of :func:`dec_avg`, valid in Spark SQL and DuckDB.

    DuckDB divides DECIMALs in DOUBLE and has no integer division
    Spark shares, so the HALF_UP quotient is spelled with ``%``:
    with ``A = |S|·2·10^scale + n`` (exact decimal) and ``B = 2n``,
    ``A - A % B`` is B times the wanted integer, and dividing it by B
    is exact in Spark's decimal division and within 3/8 of that
    integer in DuckDB's double one (while |mean|·10^scale < 2^50), so
    ``ROUND(·, 0)`` lands both on it. The sign is applied last (ties
    away from zero), then the integer is scaled back in DOUBLE —
    one correctly rounded divide in both engines. Spark keeps 6
    decimals of ``A``, which is lossless for ``scale >= 2``.
    """
    win = f" OVER {over}" if over else ""
    total = f"SUM(CAST({expr} AS {_SQL_DEC})){win}"
    n = den if den is not None else f"COUNT(*){win}"
    num = f"(ABS({total}) * {2 * 10**scale} + {n})"
    quot = f"ROUND(({num} - {num} % (2 * {n})) / (2 * {n}), 0)"
    return f"(SIGN({total}) * {quot} / 1e{scale})"


# ---------------------------------------------------------------------------
# Vector helpers (embeddings: array<float>[64], FIXTURES.md)
# ---------------------------------------------------------------------------


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sequential-order double dot product via higher-order functions.

    Stays JVM-side (no UDF): ``aggregate(zip_with(a,b,*), 0.0, +)``.
    Accumulation is left-to-right over the array, matching DuckDB's
    ``list_dot_product`` on DOUBLE[] element order — bit-identical.
    """
    prods = F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: ColumnOrName, b: ColumnOrName, scale: int = 6) -> Column:
    """Rounded cosine similarity; round BEFORE any ranking so top-k
    selection is identical in both engines (ties broken by id)."""
    return F.round(dot(a, b) / (l2_norm(a) * l2_norm(b)), scale)


# ---------------------------------------------------------------------------
# Text helpers (documents.text is space-separated tokens, FIXTURES.md)
# ---------------------------------------------------------------------------


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokenization (the reference's IK-analyzer UDTF maps to
    split+explode for whitespace languages, SURVEY.md §2.10 X1)."""
    return F.split(_col(c), " ")


def word_shingles(c: ColumnOrName, n: int = 3) -> Column:
    """n-gram word shingles as an array<string> (for MinHash, X5).

    Pure higher-order functions — no Python UDF: slide a window of n
    over the token array and concat.
    """
    toks = tokens(c)
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - F.lit(1))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
