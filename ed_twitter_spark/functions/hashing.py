"""Cross-engine deterministic hashing helpers.

Every hash used by the dedup/fingerprint operators must produce the *same
value* in Spark and in the DuckDB oracle, so everything is derived from
md5 hex prefixes (the only strong hash both engines share) converted to
int64 — the same trick the KB uses for entity ids (synth.ent_id_*).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h32_sql(expr: str) -> str:
    """DuckDB: first 8 md5 hex digits of ``expr`` as BIGINT in [0, 2^32)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def h32_col(col: Column) -> Column:
    """Spark twin of :func:`h32_sql`."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h64_sql(expr: str) -> str:
    """DuckDB: full-range signed 64-bit hash of ``expr``.

    Composed from two 32-bit md5 hex halves as
    ``(hi - 2^31) * 2^32 + lo`` — every intermediate fits signed int64
    (a straight 16-hex-digit cast overflows BIGINT when the top bit is
    set, and DuckDB range-checks ``<<``/``*``), and the same arithmetic
    is exactly expressible in Spark, so both engines agree bit-for-bit
    across the whole 64-bit range including the sign bit.
    """
    hi = f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"
    lo = f"CAST(('0x' || substr(md5({expr}), 9, 8)) AS BIGINT)"
    return f"(({hi} - 2147483648) * 4294967296 + {lo})"


def h64_col(col: Column) -> Column:
    """Spark twin of :func:`h64_sql`."""
    h = F.md5(col)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return (hi - F.lit(2147483648)) * F.lit(4294967296) + lo


# The package's one tokenizer: a whitespace split, identical in both engines
# (a leading separator gives a leading "" token; null text, a null array).
def toks_sql(expr: str = "text") -> str:
    """DuckDB: the token array of the string expression ``expr``."""
    return f"string_split_regex({expr}, '\\s+')"


TOKS_SQL = toks_sql()


def toks_col(text: str | Column = "text") -> Column:
    """Spark twin of :func:`toks_sql`; ``text`` is a column name or Column."""
    return F.split(text, r"\s+")
