"""Vector arithmetic over ``array<float>`` embedding columns, as SQL text.

This module is the only place the engine writes out dim-wide vector
arithmetic (dot products, norms, rounded cosines, flattening).  Every
builder returns SQL TEXT that the caller parses once, with ``F.expr`` or
``selectExpr``.

Why unrolled: Spark's higher-order functions (``zip_with`` /
``aggregate``) are interpreted per element, outside whole-stage codegen,
which makes them the bottleneck of any O(n²) similarity stage (measured:
minutes for 2M pairs × 64 dims).  An explicit fixed-dimension sum
compiles into codegen and runs ~2 orders of magnitude faster.  Every sum
is left-associated in index order 0..dim-1 — the same order as the fold
and as DuckDB's ``list_sum`` — so oracle bit-parity holds.

Why SQL text: every Column operator is one py4j round trip (~1–2 ms), so
a dim-wide expression built operator by operator costs hundreds of
milliseconds of DRIVER time per call site — measured 3–7 s of pure query
CONSTRUCTION per ANN query at dim=64 (r19), more than execution at sf0.1
and a per-query constant at any scale.  The streaming index operators
inline k·dim literal terms: at k = dim = 64 (local[1], 4-core VM)
``streaming_assign_centroids`` took 20.5 s to build operator by operator
and 8.3 s as text.  Text is assembled in Python for free and parsed in
one call; the parsed tree is the one the Column form built, so plans,
codegen and values are unchanged.

Double literals need the ``D`` suffix: a bare ``0.5`` parses as a
DECIMAL.  :func:`lit_sql` writes ``repr(x)`` plus ``D``, which Spark reads
back as the same double (``repr`` is the shortest round-tripping form).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMB_SQL = "CAST(embedding AS ARRAY<DOUBLE>)"


def lit_sql(x: float) -> str:
    """A double literal that parses back to exactly ``x``."""
    return f"{float(x)!r}D"


def dot_sql(xs: Sequence[str], ys: Sequence[str]) -> str:
    """``x0 * y0 + x1 * y1 + ...`` over paired SQL operands,
    left-associated in order."""
    return " + ".join(f"{x} * {y}" for x, y in zip(xs, ys, strict=True))


def lit_dot_sql(xs: Sequence[str], ws: Sequence[float]) -> str:
    """Dot product of SQL operands ``xs`` with a literal vector ``ws``."""
    return dot_sql(xs, [lit_sql(w) for w in ws])


def flat_dot_sql(pa: str, pb: str, dim: int) -> str:
    """Dot product over flattened scalar columns ``pa0..`` and ``pb0..``.

    ``pa``/``pb`` are column-name prefixes (may be alias-qualified, e.g.
    ``"a.d"``)."""
    return dot_sql(
        [f"{pa}{i}" for i in range(dim)], [f"{pb}{i}" for i in range(dim)]
    )


def norm_sql(xs: Sequence[str]) -> str:
    """L2 norm of the vector whose components are the SQL operands ``xs``."""
    return f"SQRT({dot_sql(xs, xs)})"


def norm_unrolled_sql(a: str, dim: int) -> str:
    """L2 norm of the ``dim``-long array expression ``a``."""
    return norm_sql([f"element_at({a}, {i})" for i in range(1, dim + 1)])


def rounded_cosine_sql(dot: str, na: str, nb: str, round_digits: int) -> str:
    """``ROUND(dot / (na * nb), round_digits)`` — the engine's one cosine
    form: norms precomputed, the rounded value is what ranks and
    thresholds compare, so Spark and the DuckDB oracle see identical
    numbers."""
    return f"ROUND(({dot}) / ({na} * {nb}), {round_digits})"


def pq_dist_sql(
    sub_sq: str, csub_sq: str, sub_dot: str, nrm: str, cnrm: str, round_digits: int
) -> str:
    """Rounded normalized-space L2² between a subvector and a PQ codeword:
    ``|x/nrm|² + |c/cnrm|² - 2·x·c/(nrm·cnrm)`` from the subvector's
    self-product ``sub_sq``, the codeword's ``csub_sq``, their dot
    ``sub_dot`` and the two full-vector norms."""
    return (
        f"ROUND(({sub_sq}) / ({nrm} * {nrm})"
        f" + ({csub_sq}) / ({cnrm} * {cnrm})"
        f" - 2.0D * ({sub_dot}) / ({nrm} * {cnrm}), {round_digits})"
    )


def cosine_sql(
    pa: str, pb: str, na: str, nb: str, dim: int, round_digits: int
) -> str:
    """Rounded cosine between flattened vectors ``pa0..`` and ``pb0..``
    whose norms are the columns ``na`` and ``nb``."""
    return rounded_cosine_sql(flat_dot_sql(pa, pb, dim), na, nb, round_digits)


def elements_sql(vec: str, dim: int) -> list[str]:
    """The ``dim`` components ``(vec)[0] .. (vec)[dim-1]`` of the array
    expression ``vec``."""
    return [f"({vec})[{i}]" for i in range(dim)]


def flatten_sql(vec: str, prefix: str, dim: int) -> list[str]:
    """``selectExpr`` items projecting the array expression ``vec`` into
    ``dim`` scalar columns ``prefix0 .. prefix{dim-1}``."""
    return [f"{x} AS {prefix}{i}" for i, x in enumerate(elements_sql(vec, dim))]


def flat(
    df: DataFrame,
    key: str,
    prefix: str,
    dim: int,
    *,
    vec: str = EMB_SQL,
    nrm: str = "nrm",
) -> DataFrame:
    """``(key, nrm, prefix0..prefix{dim-1})`` from the array expression
    ``vec`` of ``df``, in one ``selectExpr``.

    Codegen'd arithmetic over flat doubles skips the per-element array
    bounds/null checks that array indexing pays on every pair of a
    quadratic stage (measured 20.7 s → 3.0 s for 50 M pairs × 64 dims at
    sf0.1).  Flatten ONCE on the linear side, before the join; the norm
    is computed once per vector here."""
    return df.selectExpr(
        key,
        f"{norm_unrolled_sql(vec, dim)} AS {nrm}",
        *flatten_sql(vec, prefix, dim),
    )


def embedding_dim(emb, col: str = "embedding") -> int:
    """Read the (constant) vector dimension from the first row."""
    row = emb.select(F.size(F.col(col)).alias("d")).first()
    if row is None or row.d is None or row.d <= 0:
        raise ValueError(f"cannot infer embedding dimension from column {col!r}")
    return int(row.d)
