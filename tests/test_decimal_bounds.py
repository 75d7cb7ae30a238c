"""Guard the exact-decimal rounding contract (``functions``): that
every rounded decimal sum or mean goes through the twins, and the
decimal(18,8) per-row cast boundary (VERDICT r13 #3).

The Spark side of every ``functions.dec_sum`` / ``dec_avg``
aggregate casts each input row to decimal(18,8) (long-backed — see
``functions._DEC``) while the SQL twin stays DECIMAL(30,8).
The schemes are bit-identical ONLY while every per-row |value| stays
below 1e10: past that, Spark's cast fails the query (ANSI) or NULLs
the row and the SUM silently drops it (non-ANSI), surfacing only as
a downstream oracle hash mismatch. Nothing in the code can enforce
what the testdata contains — this test does, loudly, against every scale factor
present, with a 10× safety margin (1e9): a future testdata refresh
that moves a money/measure column near the boundary fails HERE with
the boundary named, instead of as an opaque hash diff.

Source text and footer statistics only (pyarrow min/max) — no Spark
session, no data scan; runs in milliseconds.
"""

from __future__ import annotations

import re
from pathlib import Path

import pyarrow.parquet as pq
import pytest

_PKG = Path(__file__).resolve().parents[1] / "flink_realtime_edu_spark"

# SQL: ROUND over a CAST(SUM(CAST(...))) — the pre-contract form that
# rounds the DOUBLE — or CAST(ROUND(SUM(CAST(...)))), a hand copy of
# the twin itself.
_SQL_HAND_COPY = re.compile(
    r"\b(ROUND\s*\(\s*CAST|CAST\s*\(\s*ROUND)\s*\(\s*SUM\s*\(\s*CAST\s*\(",
    re.IGNORECASE,
)
# Spark: the per-row exact decimal is ``functions.dec_exact``, so no
# other module names an 8-place decimal type; and no round() sums one
# under another name.
_SPARK_DEC_TYPE = re.compile(r"""["']decimal\(\d+,\s*8\)["']""")
_SPARK_ROUND = re.compile(r"\bround\(")
_SPARK_DEC_SUM = re.compile(r"\bsum\(.*(decimal\(|\bdec\b|\b_DEC\b)", re.S)


def _call_argument(text: str, open_paren: int) -> str:
    depth = 0
    for i in range(open_paren, len(text)):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        if depth == 0:
            return text[open_paren : i + 1]
    return text[open_paren:]


def _hand_copies(text: str) -> list[str]:
    found = [m.group(0) for m in _SQL_HAND_COPY.finditer(text)]
    found += [m.group(0) for m in _SPARK_DEC_TYPE.finditer(text)]
    for m in _SPARK_ROUND.finditer(text):
        arg = _call_argument(text, m.end() - 1)
        if _SPARK_DEC_SUM.search(arg):
            found.append("round" + " ".join(arg.split()))
    return found


def test_lint_finds_both_hand_copy_forms():
    assert _hand_copies("ROUND(CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE), 2)")
    assert _hand_copies("cast( round(sum( cast(x as decimal(30,8))), 2) as double)")
    assert _hand_copies(
        'F.round(\n    F.sum(F.col("v").cast("decimal(30,8)")).cast("double"), 4)'
    )
    assert _hand_copies('dec = F.col("x").cast("decimal(30,8)")')
    assert _hand_copies('F.round(F.sum(dec).over(w).cast("double"), 2)')
    assert _hand_copies('F.round(F.sum(F.col("x").cast(_DEC)).cast("double"), 2)')
    assert _hand_copies('F.sum(F.col("c").cast("decimal(38,0)"))') == []
    assert _hand_copies('F.round(F.sum("n").cast("double") / F.count("*"), 4)') == []


def test_rounded_decimal_sums_go_through_the_twins():
    """The rounding rule lives in ``functions`` alone: a hand-spelled
    copy outside it would keep rounding its own way when the twins
    change, and the engine and its oracle would disagree at a tie."""
    offenders = [
        f"{path.relative_to(_PKG)}: {copy}"
        for path in sorted(_PKG.rglob("*.py"))
        if path.parent.name != "functions"
        for copy in _hand_copies(path.read_text())
    ]
    assert not offenders, offenders


# Every DOUBLE column (and the FLOAT embedding elements) that flows
# through a per-row decimal(18,8) cast somewhere in the query
# inventory (dec_sum/dec_avg users, the phased skew aggregate's and
# the k-means update's dec_exact). The guard bound is 1e9 — one order
# of magnitude under the 1e10 decimal(18,8) overflow boundary.
_GUARDED_COLUMNS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_extendedprice", "l_quantity", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice",),
    "events": ("value",),
    "embeddings": ("embedding.list.element",),
}
_BOUND = 1e9  # 10× margin under the 1e10 decimal(18,8) row boundary


def _sf_dirs() -> list[Path]:
    root = Path("/root/testdata")
    return sorted(p for p in root.glob("sf*") if p.is_dir())


@pytest.mark.parametrize("sf_dir", _sf_dirs(), ids=lambda p: p.name)
def test_money_columns_stay_inside_decimal18_boundary(sf_dir: Path):
    offenders: list[str] = []
    for table, cols in _GUARDED_COLUMNS.items():
        path = sf_dir / f"{table}.parquet"
        if not path.exists():
            continue
        meta = pq.ParquetFile(str(path)).metadata
        names = {
            meta.schema.column(i).path: i for i in range(meta.num_columns)
        }
        for col in cols:
            if col not in names:
                continue
            extreme = 0.0
            for rg in range(meta.num_row_groups):
                stats = meta.row_group(rg).column(names[col]).statistics
                assert stats is not None and stats.has_min_max, (
                    f"{sf_dir.name}/{table}.{col}: no parquet min/max "
                    "stats — cannot guard the decimal(18,8) boundary"
                )
                extreme = max(
                    extreme, abs(float(stats.min)), abs(float(stats.max))
                )
            if extreme >= _BOUND:
                offenders.append(
                    f"{sf_dir.name}/{table}.{col}: max|x|={extreme:.6g}"
                )
    assert not offenders, (
        "testdata column(s) within 10x of the 1e10 decimal(18,8) "
        "per-row overflow boundary — widen functions._DEC (and the "
        "equivalence argument in functions/__init__.py) before "
        f"trusting dec_sum/dec_avg: {offenders}"
    )
