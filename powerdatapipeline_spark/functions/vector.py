"""Vector math over ``array<float|double>`` columns (SURVEY.md §2.12:
similarity search over ``embeddings.embedding``).

All JVM-side higher-order functions (``zip_with`` + ``aggregate``) — no
Python UDFs, so dot products stay inside whole-stage codegen and scale
linearly with executors.

Each helper takes column NAMES and returns ONE ``F.expr``: its SQL text is
built in Python and parsed by Spark in a single call. The lambda-API form
(``F.zip_with(..., lambda x, y: ...)``) builds the same expression tree
node by node, one or more Py4J round trips per node; with the hyperplane
and centroid transforms that was thousands of round trips per plan build.
The ``*_sql`` builders return the same texts over SQL operands (a quoted
name from :func:`col_sql`, a lambda variable, an :func:`array_sql`
literal), so callers compose larger expressions such as
``transform(<planes>, __row -> <dot>)`` that still parse once; constant
planes and centroids enter only as :func:`array_sql` text. Casts,
literal types (``0.0D``, ``decimal(38,12)``) and fold order are those of
the lambda-API form, so results are bit-identical to it. Lambda
variables use ``__``-prefixed names; a column passed by name may not
carry one of them, or the lambda would shadow it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: lambda variables of the SQL texts below
_LAMBDA_VARS = frozenset({"__x", "__y", "__acc", "__p"})


def col_sql(name: str) -> str:
    """A column name as a quoted SQL identifier (a plain name, not a
    nested-field path)."""
    if not isinstance(name, str):
        raise TypeError(f"expected a column name, got {type(name).__name__}")
    if name in _LAMBDA_VARS:
        raise ValueError(f"column name {name!r} would be shadowed by a "
                         "lambda variable of the vector expressions")
    return "`" + name.replace("`", "``") + "`"


def array_sql(values) -> str:
    """SQL text of a literal ``array<double>`` / ``array<array<double>>``
    (round 15). ``F.lit(nested_list)`` RECURSES into per-element
    ``lit()`` Py4J round trips — a 16×64 centroid literal costs ~1,000
    gateway calls, and cProfile put 6-7 s of q35's 7 s plan-build inside
    those socket reads; as SQL text the literal costs nothing until the
    expression holding it is parsed. Shortest-repr ``D`` literals parse
    back through ``Double.parseDouble``, which inverts ``repr``'s
    shortest round-trip form bit-exactly. Finite values only —
    plane/centroid/codebook constants by construction."""
    def fmt(x) -> str:
        fx = float(x)
        if not math.isfinite(fx):
            raise ValueError(f"array_sql: non-finite literal {x!r}")
        return repr(fx) + "D"

    def row(r) -> str:
        return "array(" + ",".join(fmt(x) for x in r) + ")"

    # ndim check FIRST: ``values and …`` on a multi-element numpy array
    # raises on ambiguous truthiness before reaching any isinstance
    # (ADVICE r15 — latent, all current callers pass lists)
    if hasattr(values, "ndim"):
        if getattr(values, "ndim", 1) == 2:
            return "array(" + ",".join(row(r) for r in values) + ")"
        values = list(values)
    if len(values) == 0:
        raise ValueError(
            "array_sql: empty input has no element type; pass at least "
            "one value (an untyped array() literal would not bind to "
            "array<double> operations)")
    if isinstance(values[0], (list, tuple)):
        return "array(" + ",".join(row(r) for r in values) + ")"
    return row(values)


def dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` over two SQL operands."""
    return (f"aggregate(zip_with({a}, {b}, (__x, __y) -> "
            "CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE)), "
            "0.0D, (__acc, __p) -> __acc + __p)")


def ddot_sql(a: str, b: str) -> str:
    """SQL text of :func:`ddot` over two SQL operands."""
    return (f"CAST(aggregate(zip_with({a}, {b}, (__x, __y) -> "
            "CAST(CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE) "
            "AS DECIMAL(28,12))), CAST(0 AS DECIMAL(38,12)), "
            "(__acc, __p) -> CAST(__acc + __p AS DECIMAL(38,12))) "
            "AS DOUBLE)")


def l2_norm_sql(a: str) -> str:
    """SQL text of :func:`l2_norm` over one SQL operand."""
    return (f"SQRT(aggregate({a}, 0.0D, (__acc, __x) -> "
            "__acc + CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE)))")


def dot(a: str, b: str) -> Column:
    """Elementwise product then sum: ``aggregate(zip_with(a, b, *), 0.0, +)``."""
    return F.expr(dot_sql(col_sql(a), col_sql(b)))


def ddot(a: str, b: str) -> Column:
    """Decimal-exact dot product of two array<float> columns: products in
    double (exact IEEE), each rounded to DECIMAL(28,12) identically in any
    engine, summed exactly — so the result is bit-reproducible regardless
    of summation order (DuckDB's list_sum uses compensated summation and
    differs from a plain left fold at ~1e-16). The merge lambda re-casts
    because Spark's decimal addition narrows scale (38,12)+(28,12) →
    (38,11); the cast back is an exact rescale at these magnitudes.

    CAVEAT (diagnosed round 7, q98): Spark's double→decimal cast rounds
    the double's SHORTEST decimal repr (``BigDecimal.valueOf``), not its
    exact binary expansion — at scale 12 this diverges from an
    exact-value rounding (DuckDB's) on ~1e-5 of random products. Safe
    when downstream rounding is ≥ a few digits coarser than the decimal
    scale AND values aren't decimal-tie-prone; for a bit-exact
    cross-engine fold prefer plain-double sums with an IDENTICAL fold
    order (Spark ``aggregate`` ≡ DuckDB ``list_reduce`` left fold — the
    q98 construction)."""
    return F.expr(ddot_sql(col_sql(a), col_sql(b)))


def l2_norm(a: str) -> Column:
    return F.expr(l2_norm_sql(col_sql(a)))


def cosine_similarity(a: str, b: str) -> Column:
    """Cosine similarity between two array columns; NULL-safe on zero norms."""
    qa, qb = col_sql(a), col_sql(b)
    na, nb = l2_norm_sql(qa), l2_norm_sql(qb)
    return F.expr(f"CASE WHEN ({na} > 0) AND ({nb} > 0) "
                  f"THEN {dot_sql(qa, qb)} / ({na} * {nb}) END")


def sign_bucket(scores: str, n_planes: int, offset: int = 0) -> Column:
    """Pack the signs of ``n_planes`` hyperplane margins (elements
    ``offset..offset+n_planes-1`` of the materialized score array column
    ``scores``) into one integer LSH bucket id: bit ``i`` is set iff
    ``scores[offset+i] >= 0``. Bits up to 30 add as INT, higher ones as
    BIGINT literals (the literal type Spark gives ``2**i``).

    Shared by the ANN bucketing (similarity.hyperplane_lsh_topk) and the
    near-dup banding (dedup.embedding_neardup_pairs) so the sign convention
    — and any fix to it — lives in exactly one place. Callers materialize
    ``scores`` into a column first; testing signs on the raw transform would
    re-evaluate every interpreted dot product per bit."""
    s = col_sql(scores)
    return F.expr("0" + "".join(
        f" + CASE WHEN {s}[{offset + i}] >= 0 THEN {2 ** i} ELSE 0 END"
        for i in range(n_planes)))


def vectorize(cols: list[str], dtype: str = "double") -> Column:
    """dict-record → dense vector (reference ``csvdataset_to_tfdataset``,
    tfdataset.py:89-135): pack named numeric columns into one array column.
    Column names stay in the schema (array is positional; callers keep the
    name list — the engine stores it in column metadata via ``.alias``)."""
    return F.array(*[F.col(c).cast(dtype) for c in cols])
