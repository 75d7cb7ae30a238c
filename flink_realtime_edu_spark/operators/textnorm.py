"""Unicode text normalization — the cleaning stage every web-scale
corpus runs before dedup/tokenization (SURVEY.md §2.10 X7 / F1).

``normalize_text_udf`` canonicalizes a text column: Unicode NFC
(composed forms — é as one codepoint, ligature-stable), control
characters stripped to spaces, ASCII whitespace runs collapsed to a
single space, ends trimmed. Arrow-vectorized pandas UDF (unicodedata
is C-backed; the per-batch Python loop is unavoidable since the JVM
has no NFC builtin, but the batch transfer is columnar).

Dual-engine exactness (how the oracle can check CONTENT, not just
counts): DuckDB's ``nfc_normalize`` (utf8proc) agrees with Python's
``unicodedata.normalize('NFC', …)`` — verified on composed/decomposed
accents, ligatures and full-width forms — and the whitespace steps
use the EXPLICIT class ``[ \\t\\n\\r\\f\\v]`` in both engines (never
``\\s``: Python's ``\\s`` on str matches Unicode spaces, RE2's is
ASCII-only — a silent divergence trap). Lowercasing is deliberately
NOT part of this operator's oracle-checked core: Python ``str.lower``
and DuckDB/Java disagree on e.g. Turkish dotted-İ, so case folding
stays a separate, documented-as-engine-local step.

Scale: row-local, partitioning-invariant, one Arrow round-trip; at
100 TB this rides the first corpus scan and its output feeds the
content-hash dedup directly.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql.functions import pandas_udf

_CTRL = re.compile(r"[\x00-\x1f\x7f]")
_WS = re.compile(r"[ \t\n\r\f\v]+")


def normalize_text_py(s: str | None) -> str | None:
    """Reference implementation (one string) — the pandas UDF and the
    tests share it; the DuckDB oracle replays it relationally."""
    if s is None:
        return None
    s = unicodedata.normalize("NFC", s)
    s = _CTRL.sub(" ", s)
    s = _WS.sub(" ", s)
    return s.strip(" ")


def normalize_text_udf():
    """Factory: Arrow-vectorized normalizer column."""

    @pandas_udf("string")
    def _norm(texts: pd.Series) -> pd.Series:
        return texts.map(normalize_text_py)

    return _norm


# DuckDB twin of normalize_text_py over a column expression.
NORMALIZE_SQL = (
    "trim(regexp_replace(regexp_replace(nfc_normalize({col}), "
    "'[\\x00-\\x1f\\x7f]', ' ', 'g'), '[ \\t\\n\\r\\f\\v]+', ' ', 'g'), ' ')"
)
