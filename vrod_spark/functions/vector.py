"""Vector math as native Catalyst expressions.

These are the scoring kernels behind SEARCHSIMILAR (reference command:
/root/reference/src/command/builder.rs:68-72) expressed as built-in
higher-order array functions (``zip_with`` + ``aggregate``), so scoring
runs JVM-side — no Python boundary, no UDF serialization, and the
expressions scale linearly with partition count on a real cluster. Both
are CodegenFallback expressions in Spark 4.1: they run interpreted inside
the generated stage (an unrolled form that compiles measured slower;
PERF.md).

All kernels cast elements to DOUBLE up front: the storage type is
ARRAY<FLOAT> (FIXTURES.md `embeddings.embedding`) and float32 → float64
widening is exact, which keeps results bit-comparable with the DuckDB
oracle's DOUBLE[] arithmetic.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def vector_lit_sql(values: Sequence[float]) -> str:
    """SQL text of a literal ARRAY<DOUBLE> (finite values only).

    ``repr(float)`` is the shortest decimal that round-trips, and Spark's
    double-literal parse is correctly rounded, so the parsed array is
    bit-identical to per-element ``F.lit`` construction (differential-
    tested). Exists so vector literals cost ONE parse instead of dim+1
    py4j round-trips — building a 64-dim literal the element-wise way
    measured ~67 ms of pure driver overhead vs ~0.6 ms for the parse,
    which dominated the cold latency of every vector-heavy plan (kNN,
    LSH bucketing) at small SF."""
    return "array(" + ",".join(repr(float(v)) + "D" for v in values) + ")"


def vector_lit(values: Sequence[float]) -> Column:
    """A literal dense vector as an ARRAY<DOUBLE> column."""
    vals = [float(v) for v in values]
    if vals and all(map(math.isfinite, vals)):
        return F.expr(vector_lit_sql(vals))
    # Empty or non-finite (inf/nan have no SQL literal form): the
    # per-element path, correct for every IEEE double.
    return F.array(*[F.lit(v) for v in vals]).cast("array<double>")


def _to_double(vec: Column | str) -> Column:
    col = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(col, lambda x: x.cast("double"))


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sum_i a_i * b_i, folded JVM-side in DOUBLE."""
    products = F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y)
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance — the default metric for kNN scoring."""
    diffs = F.zip_with(_to_double(a), _to_double(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """NULL (not an error) when either vector has zero norm — cosine is
    undefined there, and ANSI mode (Spark 4 default) would otherwise
    raise DIVIDE_BY_ZERO mid-query on a single degenerate row."""
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def cosine_distance_with_norm(
    a: Column | str, b: Column, b_norm: Column
) -> Column:
    """Cosine distance where ``b``'s norm is already available as a
    column/constant — the one definition of the precomputed-norm form
    (NULL when either norm is zero, via try_divide, matching
    cosine_similarity). Shared by the literal-query and batch kNN paths
    so the zero-norm contract lives in exactly one place."""
    return F.lit(1.0) - F.try_divide(dot_product(a, b), l2_norm(a) * b_norm)


def cosine_distance_to_lit(a: Column | str, qvals: Sequence[float]) -> Column:
    """Cosine distance against a LITERAL query vector: the query norm is
    folded to a Python constant instead of an interpreted per-row
    ``aggregate`` over the literal array (higher-order expressions are
    CodegenFallback and Catalyst does not constant-fold them — the old
    form re-reduced the 64-element literal on EVERY scanned row).
    Bit-identical to ``cosine_distance(a, vector_lit(qvals))``: Python's
    left-to-right ``sum`` over ``v*v`` performs the same IEEE double
    operations in the same order as the aggregate fold it replaces.
    NULL when either norm is zero, matching cosine_similarity."""
    vals = [float(v) for v in qvals]
    qn = math.sqrt(sum(v * v for v in vals))
    return cosine_distance_with_norm(a, vector_lit(vals), F.lit(qn))


def quantize_int8(vec: Column | str) -> Column:
    """Scalar int8 quantization: STRUCT(scale DOUBLE, q ARRAY<INT>) with
    q_i = floor(x_i/scale + 0.5) ∈ [-127, 127], scale = max|x|/127 — the
    standard 4× storage shrink for embedding columns (float32 → int8), the
    difference between 100 TB and 25 TB of vectors on disk.

    floor(x + 0.5), NOT round(): round() half-even/half-away behavior
    differs across engines; floor(+0.5) is identical everywhere, keeping
    quantized values oracle-comparable. A zero vector quantizes to
    scale 0.0 and q all-zero (try_divide only NULLs on a zero DIVISOR,
    and 127 never is — r11 review corrected this doc); dequantize maps
    it back to exact zeros. A NULL vector propagates scale/q NULL."""
    v = _to_double(vec)
    scale = F.try_divide(
        F.array_max(F.transform(v, F.abs)), F.lit(127.0)
    )
    q = F.transform(
        v,
        lambda x: F.floor(F.coalesce(F.try_divide(x, scale), F.lit(0.0)) + F.lit(0.5))
        .cast("int"),
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(qs: Column) -> Column:
    """Inverse of quantize_int8: ARRAY<DOUBLE> with x̂_i = q_i · scale.
    Reconstruction error is bounded by scale/2 = max|x|/254 per element."""
    return F.transform(
        qs.getField("q"),
        lambda q: q.cast("double") * F.coalesce(qs.getField("scale"), F.lit(0.0)),
    )


def random_projection_matrix(in_dim: int, out_dim: int, seed: int = 0):
    """Deterministic Gaussian JL projection matrix (out_dim × in_dim),
    entries N(0, 1/out_dim) from numpy's seeded PCG64 — the Johnson-
    Lindenstrauss dimensionality reduction used to shrink embeddings
    before IVF/PQ training or brute-force scoring. Same (dims, seed) →
    bit-identical matrix on any machine, so a projection is re-creatable
    months later without storing it."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return (
        rng.standard_normal((out_dim, in_dim)) / np.sqrt(float(out_dim))
    ).astype(np.float64)


def random_project(
    df,
    vec_col: str = "embedding",
    *,
    out_dim: int,
    seed: int = 0,
    out_col: str = "proj",
    in_dim: int | None = None,
):
    """Append ``out_col``: the JL projection of ``vec_col`` to ``out_dim``
    dims (ARRAY<DOUBLE>). The matrix is generated driver-side
    (random_projection_matrix) and captured by value in an Arrow
    pandas_udf — one numpy matmul per batch, no shuffle, blobs of model
    state never exceed out_dim·in_dim doubles per worker. Distances are
    preserved within the JL distortion bound w.h.p. (property-tested);
    compose upstream of knn/IVF/PQ for a 4–24× scoring-cost cut at 100 TB
    (the reference's 384-dim fastembed vectors → 64 dims)."""
    from pyspark.sql.functions import pandas_udf

    if in_dim is None:
        # Convenience inference runs ONE eager job and needs a non-null
        # first vector; pipelines that may be empty (or want a fully
        # lazy build, like every other column builder here) pass in_dim.
        head = df.select(vec_col).first()
        if head is None or head[0] is None:
            raise ValueError(
                "random_project cannot infer in_dim from an empty frame "
                "or NULL first vector; pass in_dim explicitly"
            )
        in_dim = len(head[0])
    mat = random_projection_matrix(int(in_dim), out_dim, seed)

    def _proj_fn(vecs: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        # Per-row dgemv, NOT a batched dgemm: a batch matmul's reduction
        # order varies with the Arrow batch SHAPE, so the same row could
        # project to ulp-different values under a different partitioning
        # (regression-tested: repartition(7) must reproduce bit-exactly).
        # NULL rows project to NULL instead of raising inside the Arrow
        # batch and failing the whole task (r11 review).
        return pd.Series(
            [
                None if v is None else mat @ np.asarray(v, dtype=np.float64)
                for v in vecs
            ]
        )

    _proj = pandas_udf(_proj_fn, "array<double>")
    return df.withColumn(out_col, _proj(F.col(vec_col)))
