"""Shared Column-expression helpers.

Everything here is a pure composition of ``pyspark.sql.functions`` —
JVM-side, codegen-friendly, no Python UDFs — so every operator built on
top stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- text


def words(col: Column | str) -> Column:
    """Lowercased whitespace tokenization (matches DuckDB
    ``regexp_split_to_array(lower(x), '\\s+')``)."""
    return F.split(F.lower(F.col(col) if isinstance(col, str) else col), r"\s+")


def token_bigrams(w: Column) -> Column:
    """Adjacent token bigrams of a token array (callers must filter
    ``size(w) >= 2`` first; Spark's ``sequence`` runs descending for
    start > stop, which would silently fabricate shingles)."""
    idx = F.sequence(F.lit(1), F.size(w) - 1)
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1))
    )


def char_shingles(col: Column, k: int) -> Column:
    """Character k-gram shingles of a string column."""
    s = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.length(s) - (k - 1))
    return F.transform(idx, lambda i: F.substring(s, i, k))  # noqa: B023


def explode_computed(df, arr: Column, alias: str, keep: tuple[str, ...] = ("doc_id",)):
    """Explode a COMPUTED array expression via ``posexplode_outer``.

    The non-outer Generate adds an implicit ``size(arr)>0`` filter that
    CLONES the whole array expression into the plan and evaluates it
    twice per row — measured 35% slower warm and ~7x slower cold
    (doubled codegen) for shingle-sized HOF arrays; for pandas_udf
    arrays it doubles the Arrow eval (see similarity.py). Projecting
    the array first does not help: CollapseProject inlines it back.

    OUTER semantics: an empty/null array emits one row with a NULL
    ``alias`` — callers must either guarantee non-empty arrays (e.g. a
    ``size >= k`` pre-filter) or filter NULLs after.
    """
    return (
        df.select(*keep, arr.alias("__arr"))
        .select(*keep, F.posexplode_outer("__arr").alias("__pos", alias))
        .drop("__pos")
    )


def count_in_set(w: Column, vocab: list[str]) -> Column:
    """Number of tokens of ``w`` contained in ``vocab`` (with repeats)."""
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))


# ---------------------------------------------------------- embeddings


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays — a fold over ``zip_with``,
    fully JVM-side (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# ------------------------------------------------- fixed-point outputs
# Portable determinism: Spark's ROUND rounds the shortest decimal repr
# of a double (HALF_UP on Double.toString) while DuckDB rounds the
# binary value — they disagree at half-boundaries. FLOOR(x*scale+0.5)
# is the identical IEEE expression tree in both engines, hence
# bit-deterministic on identical inputs, for any sign.


def cents(expr: Column) -> Column:
    """Per-row integer cents (``FLOOR(x*100+0.5)`` as BIGINT)."""
    return F.floor(expr * 100 + F.lit(0.5)).cast("bigint")


def scaled(expr: Column, scale: int) -> Column:
    """``FLOOR(x*scale+0.5)`` as BIGINT — fixed-point output."""
    return F.floor(expr * F.lit(float(scale)) + F.lit(0.5)).cast("bigint")


def avg_scaled(int_sum: Column, n: Column, scale: int) -> Column:
    """Average of an exact integer sum as a scaled integer; the double
    math sees only exact integers, so both engines agree bit-for-bit."""
    return F.floor(
        int_sum.cast("double") * F.lit(float(scale)) / n + F.lit(0.5)
    ).cast("bigint")

