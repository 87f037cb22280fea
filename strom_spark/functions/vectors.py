"""Vector expression builders for embedding columns (array<float>).

All JVM-side higher-order functions — no Python UDF in the scan path.
For million-vector × million-vector workloads the driver of cost is the
pair count, not the per-pair arithmetic; see ``operators/similarity.py``
for the blocking strategies."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: "Column | str") -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: "Column | str", b: "Column | str") -> Column:
    """Sequential left-fold dot product — deterministic summation order
    (stable across runs/engines for oracle comparison).  ``zip_with``
    null-pads ragged pairs, so a length mismatch yields null.

    HOF lambdas run interpreted, outside whole-stage codegen; the hot
    paths avoid that cost either by unrolling against a literal
    (:func:`dot_literal`) or by vectorizing a broadcast tile in Arrow
    (``CosineTopK._scan_arrow``)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: "Column | str") -> Column:
    """Sequential left-fold L2 norm (same summation order as :func:`dot`)."""
    return F.sqrt(
        F.aggregate(
            F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def const_double_array(values) -> Column:
    """A constant ``array<double>`` literal built through ONE parsed SQL
    expression instead of ``F.lit(list)`` — which routes every element
    through an individual py4j ``lit`` call on the driver (r14: 1.6 s
    for 8x64x6 KMeans centroid literals vs 0.03 s parsed; the executor
    side is identical after constant folding).  ``repr(float)`` is the
    shortest round-trip decimal and Spark's double parser is correctly
    rounded, so every element is BIT-IDENTICAL to the ``F.lit`` form
    (verified incl. subnormals and -0.0).  Non-finite elements fall
    back to ``F.lit`` — the SQL lexer has no inf/nan literal."""
    vals = [float(x) for x in values]
    if any(x != x or x in (float("inf"), float("-inf")) for x in vals):
        return F.lit(vals)
    return F.expr("array(" + ",".join(repr(x) + "D" for x in vals) + ")")


def const_long_array(values) -> Column:
    """Constant ``array<bigint>`` literal via one parsed SQL expression
    (see :func:`const_double_array` — same driver-side py4j argument;
    integer text round-trips exactly by construction)."""
    return F.expr("array(" + ",".join(f"{int(x)}L" for x in values) + ")")


def dot_literal(a: "Column | str", values) -> Column:
    """Left-fold dot of a vector column against a PYTHON-side constant
    vector (pivot/centroid), unrolled into a codegen'd chain whose
    length is the literal's own length.
    Bit-identical to ``dot(a, F.array(*map(F.lit, values)))``: same
    left association, same per-element double products (a float literal
    element and ``F.lit(float)`` are the same double), with the ragged
    guard falling back to the HOF form against the literal array."""
    ca = _c(a)
    vals = [float(x) for x in values]
    lit_arr = F.array(*[F.lit(x) for x in vals])
    acc: Column = F.lit(0.0)
    for i, x in enumerate(vals):
        acc = acc + F.get(ca, i).cast("double") * F.lit(x)
    return F.when(F.size(ca) == len(vals), acc).otherwise(dot(ca, lit_arr))


def sq_dist_literal(a: "Column | str", values) -> Column:
    """Left-fold squared L2 distance of a vector column to a constant
    centroid, unrolled into a codegen chain (see :func:`dot_literal`;
    same bit-exactness argument — ``(a-b)*(a-b)`` terms, same left
    association, ragged rows fall back to the ``zip_with`` fold)."""
    ca = _c(a)
    vals = [float(x) for x in values]
    acc: Column = F.lit(0.0)
    for i, x in enumerate(vals):
        d = F.get(ca, i).cast("double") - F.lit(x)
        acc = acc + d * d
    hof = F.aggregate(
        F.zip_with(ca, F.lit(vals), lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc2, x2: acc2 + x2,
    )
    return F.when(F.size(ca) == len(vals), acc).otherwise(hof)


def cosine(a: "Column | str", b: "Column | str") -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_normalize(a: "Column | str") -> Column:
    """Pre-normalize once so downstream similarity is a plain dot
    product — at scale, normalize at ingest, not per pair.

    NOTE the HOF re-evaluation trap (text.shingles_of_tokens): the
    ``transform`` lambda body — including the whole norm subtree — is
    re-evaluated PER ELEMENT, so this single-expression form is
    O(dim²) per row.  Hot paths should use :func:`l2_normalize_select`
    which projects the norm once and divides by the bound column."""
    n = norm(a)
    return F.transform(_c(a), lambda x: x.cast("double") / n)


def l2_normalize_select(df, id_col: str, vec_col, out_col: str):
    """``df.select(id_col, l2_normalize(vec_col).alias(out_col))`` with
    the norm hoisted into its own projection so it is computed ONCE per
    row instead of once per element (the HOF lambda re-evaluates its
    body subtree per element — O(dim²) in the one-expression form, and
    the fold itself is interpreted).  Bit-identical output: the same
    per-element ``x.cast(double) / norm`` division in the same order."""
    cv = _c(vec_col)
    n = norm(cv).alias("__l2n")
    return df.select(F.col(id_col), cv.alias("__l2v"), n).select(
        F.col(id_col),
        F.transform(F.col("__l2v"),
                    lambda x: x.cast("double") / F.col("__l2n")).alias(out_col),
    )


# ---------------------------------------------------------------------------
# Arrow-native pair kernels (r14, guide §4.2): vectorize the per-pair
# fold across a batch instead of evaluating it interpreted per element.
# ---------------------------------------------------------------------------

#: Driver-memory cap for an Arrow pair-kernel query tile, in BYTES
#: (r15, verdict #9): the broadcast-row guard bounds how many rows a
#: tile may hold, but driver memory scales with rows × dim × 8 — a
#: million 4096-dim doubles is ~32 GB even though it passes a 1M-row
#: guard.  Tiles whose estimated matrix exceeds this cap skip the
#: Arrow scan and stay on the JVM broadcast-join path (same results;
#: the JVM relation is subject to Spark's own 8 GB broadcast cap).
#: 256 MiB is comfortable beside a default 1-4 GB driver heap.
ARROW_TILE_MAX_BYTES = 256 << 20


def _fold_dot_row(xa, xb):
    """Exact Python replica of the JVM ``aggregate(zip_with(a,b,x*y),
    0.0, acc+x)`` fold for ONE pair: Python floats are IEEE doubles,
    so ``acc + x * y`` performs the identical rounded operations in
    the identical order.  ``zip_with`` null-pads ragged pairs and a
    null product poisons the running sum, so any length mismatch,
    missing array or null element yields null — replicated here."""
    if xa is None or xb is None or len(xa) != len(xb):
        return None
    acc = 0.0
    for x, y in zip(xa, xb):
        if x is None or y is None:
            return None
        acc = acc + float(x) * float(y)
    return acc


def _uniform_matrix(col, n):
    """(n, d) float64 matrix view of an Arrow list column when every
    row is a null-free list of one common length — the shape the
    vectorized kernel needs; ``None`` routes the batch to the per-row
    fold fallback.  float32 sources are cast (exact, same as the JVM
    fold's per-element ``cast("double")``)."""
    import numpy as np

    if col.null_count:
        return None
    lens = col.value_lengths().to_numpy(zero_copy_only=False)
    if len(lens) == 0:
        return None
    d = int(lens[0])
    if not (lens == d).all():
        return None
    flat = col.flatten()
    if flat.null_count:
        return None
    try:
        vals = flat.to_numpy(zero_copy_only=False)
    except Exception:
        return None
    if vals.dtype != np.float64:
        vals = vals.astype(np.float64)
    return vals.reshape(n, d) if d else vals.reshape(n, 0)


_PA_TYPES = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "string": "string",
}


def pa_type_for(spark_type: str):
    """pyarrow type for a Spark simpleString id/scalar type, or None
    when unmapped (caller falls back to the JVM path)."""
    import pyarrow as pa

    name = _PA_TYPES.get(spark_type)
    return getattr(pa, name)() if name else None
