"""Vector math kernels over ``array<float/double>`` columns.

All JVM-side higher-order functions (``zip_with`` + ``aggregate``) — no Python
in the hot path, so brute-force kNN / similarity joins stay inside whole-stage
codegen. Reference semantics: cosine over chunk/paper embeddings
(backend/app/core/vector_store.py:603-606; backend/app/core/recommender.py:418-429).

At 100 TB these kernels run inside a shuffle-free ``mapPartitions``-equivalent
projection; the expensive part of kNN is the candidate generation (see
operators/vector.py), never the kernel itself.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.hashing import quote_name


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Column-NAME inputs take a single-F.expr-parse fast path in the kernels
# below: each py4j-composed fold costs ~100-140 round trips (~20-27 ms of
# plan-build per call; these kernels sit on ~25 query-build paths and are
# often instantiated per pair side), against ~0.3 ms for one parse of the
# IDENTICAL expression tree — same lambdas, same fold order, bit-identical
# values (pinned in tests/test_sql_fastpath_twins.py). Composed Column
# inputs keep the Column-API branch.

def dot_product_spark_sql(a: str, b: str) -> str:
    """Spark SQL text of the exact :func:`dot_product` tree ({a}/{b} are
    SQL expressions, already quoted as needed)."""
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_spark_sql(a: str, times: str | None = None) -> str:
    """Spark SQL text of :func:`l2_norm`; with ``times`` (a SQL literal),
    of ``l2_norm * times`` with the product in the fold's finish lambda:
    the same floating-point operations, but a per-query constant stays in
    interpreted lambda code instead of the generated Java."""
    fold = f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v"
    if times is None:
        return f"sqrt({fold}))"
    return f"{fold}, acc -> sqrt(acc) * {times})"


def l2_distance_spark_sql(a: str, b: str) -> str:
    return (
        f"sqrt(aggregate(zip_with({a}, {b},"
        f" (x, y) -> power(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2)),"
        f" 0.0D, (acc, v) -> acc + v))"
    )


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ — sequential fold, deterministic (matches numpy/DuckDB order)."""
    if (
        isinstance(a, str) and isinstance(b, str)
        and (aq := quote_name(a)) is not None and (bq := quote_name(b)) is not None
    ):
        return F.expr(dot_product_spark_sql(aq, bq))
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    if isinstance(a, str) and (aq := quote_name(a)) is not None:
        return F.expr(l2_norm_spark_sql(aq))
    return F.sqrt(
        F.aggregate(
            F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def l2_distance(a: Column | str, b: Column | str) -> Column:
    if (
        isinstance(a, str) and isinstance(b, str)
        and (aq := quote_name(a)) is not None and (bq := quote_name(b)) is not None
    ):
        return F.expr(l2_distance_spark_sql(aq, bq))
    return F.sqrt(
        F.aggregate(
            F.zip_with(_c(a), _c(b), lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a|·|b|) — the reference's similarity metric
    (vector_store.py:603-606). Zero-norm vectors yield NULL (nullif guard),
    not an ANSI divide-by-zero error — dirty corpora always contain some."""
    if (
        isinstance(a, str) and isinstance(b, str)
        and (aq := quote_name(a)) is not None and (bq := quote_name(b)) is not None
    ):
        return F.expr(
            f"{dot_product_spark_sql(aq, bq)}"
            f" / nullif({l2_norm_spark_sql(aq)} * {l2_norm_spark_sql(bq)}, 0.0D)"
        )
    return dot_product(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def array_mean_long(df, group_cols, vec_col: str, pos_col: str = "pos", val_col: str = "avg_val"):
    """Element-wise mean of vectors per group, in LONG form (group, pos, mean).

    Reference A5: per-paper mean embedding ``np.mean(chunk_embeddings, axis=0)``
    (vector_store.py:508-536). Long output keeps the result relational (and
    oracle-checkable); re-assemble with collect_list over an ordered window
    only at a bounded export boundary.
    """
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    return (
        df.select(*group_cols, F.posexplode(F.col(vec_col)).alias(pos_col, "_v"))
        .groupBy(*group_cols, pos_col)
        .agg(F.avg(F.col("_v").cast("double")).alias(val_col))
    )


def quantize_int8(a: Column | str, scale: Column | str) -> Column:
    """Symmetric int8 quantization: qᵢ = round(127·aᵢ/scale), clamped to
    [-127, 127]. With ``scale = max|aᵢ|`` (see ``max_abs``) this is the
    standard per-vector symmetric scheme: 4× smaller storage/shuffle than
    float32, and cosine is scale-invariant per vector so ranking degrades
    only by rounding error (recall pinned in tests). JVM-side transform —
    quantization rides the scan projection."""
    s = _c(scale)
    return F.transform(
        _c(a),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x.cast("double") * 127.0 / s).cast("int")),
        ),
    )


def max_abs(a: Column | str) -> Column:
    """max |aᵢ| — the per-vector symmetric quantization scale."""
    return F.aggregate(
        F.transform(_c(a), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )


def dequantize_int8(q: Column | str, scale: Column | str) -> Column:
    """Inverse of ``quantize_int8``: xᵢ ≈ qᵢ·scale/127 (array<double>)."""
    s = _c(scale)
    return F.transform(_c(q), lambda x: x.cast("double") * s / 127.0)
