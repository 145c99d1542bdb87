"""Portable ASCII-only case folding — identical in every runtime.

Full Unicode case mapping is runtime-defined, and the runtimes here
genuinely disagree (measured live, round 8): the JVM lowers 'İ' (U+0130)
to 'i' + COMBINING DOT ABOVE (two code points, Python agrees) while
DuckDB lowers it to plain 'i' (one); DuckDB uppers 'ß' to 'ẞ' (U+1E9E)
while the JVM expands it to 'SS'. Any tokenization/fingerprint path that
case-folds arbitrary corpus text with the engine's lower() therefore
yields different words — different lengths, different hashes, different
dedup clusters — per engine (caught end to end by
tools/unicode_fixtures.py).

The repo-wide contract for corpus text is therefore ASCII-ONLY folding
(the Lucene ASCIIFolding / C4-cleaning convention): 'A'..'Z' map to
'a'..'z', every other code point passes through untouched. translate()
is a per-code-point table lookup in all three runtimes — the same cost
class as lower(), JVM-codegen on the Spark side — and on a pure-ASCII
corpus its output is byte-identical to lower(), so dense-fixture values
are unchanged.

Case ops over known-ASCII CONSTANT domains (TPC-H p_brand, synthesized
'srcN.com' hosts) keep the engine lower()/upper(); the fold is for
arbitrary user text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"

#: str.translate table for the Python/Arrow kernel twin.
_PY_TABLE = str.maketrans(_UPPER, _LOWER)


def ascii_lower(col: Column | str) -> Column:
    """Spark Column: ASCII-only lowercase (non-ASCII passes through)."""
    return F.translate(F.col(col) if isinstance(col, str) else col,
                       _UPPER, _LOWER)


def ascii_lower_sql(expr: str) -> str:
    """Spark-SQL text twin of :func:`ascii_lower`."""
    return f"translate({expr}, '{_UPPER}', '{_LOWER}')"


# DuckDB's translate() has the same (source, from, to) signature and
# per-code-point semantics, so the one spelling serves both engines.
ascii_lower_duckdb_sql = ascii_lower_sql


def ascii_lower_py(s: str) -> str:
    """Python kernel twin of :func:`ascii_lower` (str.translate)."""
    return s.translate(_PY_TABLE)


def ascii_upper_sql(expr: str) -> str:
    """Spark-SQL text: ASCII-only uppercase (non-ASCII passes through).
    Engine upper() diverges cross-engine on ß/ı (r8); the label sweep
    (r11) caught the URL-synthesis queries upper()-ing an arbitrary
    source column — the :func:`ascii_lower` contract, opposite
    direction."""
    return f"translate({expr}, '{_LOWER}', '{_UPPER}')"


# Same translate() signature/semantics in DuckDB (see ascii_lower).
ascii_upper_duckdb_sql = ascii_upper_sql
