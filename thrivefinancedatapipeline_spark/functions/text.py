"""Text column expressions shared by dedup + text-analysis operators.

Everything here is a pure built-in column expression (JVM-side,
whole-stage codegen) with an exact DuckDB SQL twin, so operators built
on these are oracle-checkable bit-for-bit. The only hash primitive is
md5 (available in both engines); ``md5_long`` folds the first 15 hex
chars (60 bits) into a non-negative BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize(c: Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def norm_sql(c: str) -> str:
    return f"lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"


def tokens(c: Column) -> Column:
    return F.split(normalize(c), " ")


def tokens_sql(c: str) -> str:
    return f"string_split({norm_sql(c)}, ' ')"


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit integer hash of a string (md5 prefix)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(c: str) -> str:
    return f"('0x' || substring(md5({c}), 1, 15))::BIGINT"


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token-array
    column (empty if < n tokens).

    IMPORTANT: `t` must be a bound column reference, not a computed
    expression — expressions referenced inside the transform() lambda
    are inlined per element access, which turns shingling quadratic in
    document length (observed 10x slowdown).
    """
    arr = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(arr)


def shingles(c: Column, n: int = 3) -> Column:
    """Array of distinct word n-gram shingles of a raw text column.
    Prefer staging tokens into a column + shingles_from_tokens() in
    hot paths (see that function's note)."""
    return shingles_from_tokens(tokens(c), n)
