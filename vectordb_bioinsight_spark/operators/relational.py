"""Relational core operators — SURVEY.md §2.2/§2.4/§2.6/§2.7.

These are thin, well-typed wrappers that keep plans declarative; their value
is the enforced discipline (deterministic top-k tie-breaks, aliased outputs,
map-side-combinable aggregates), not cleverness. Catalyst provides pushdown,
pruning, and join selection.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: Sequence[Column], k: int, tiebreak: Sequence[Column] = ()) -> DataFrame:
    """Deterministic global top-k.

    Reference W1: ``sorted(...)[:k]`` / ``nlargest`` (vector_store.py:354,
    agent2_network.py:129-132). Spark compiles ``orderBy().limit(k)`` to
    ``TakeOrderedAndProject`` — per-partition heap + driver merge, no global
    sort shuffle, which is exactly the scalable physical plan for top-k.

    ``tiebreak`` columns MUST make the ordering total: a top-k whose k-th and
    (k+1)-th rows compare equal is nondeterministic across engines and breaks
    hash-matching (and reproducibility at scale).
    """
    return df.orderBy(*order_by, *tiebreak).limit(k)


def dedup_exact(df: DataFrame, subset: Sequence[str]) -> DataFrame:
    """A15 exact dedup via groupBy-on-key (NOT dropDuplicates).

    ``dropDuplicates`` keeps an arbitrary row per key — nondeterministic under
    parallelism. For engine semantics we keep the row with the minimal struct
    of the remaining columns, i.e. a deterministic representative, via
    ``min_by`` on a canonical ordering column chosen by the caller's first
    subset column. Reference: unique papers keyed by title
    (vector_store.py:446-459).
    """
    other = [c for c in df.columns if c not in subset]
    if not other:
        return df.distinct()
    agg = [F.min(c).alias(c) for c in other]
    return df.groupBy(*subset).agg(*agg)


def conditional_counts(df: DataFrame, group_cols: Sequence[str], conditions: dict[str, Column]) -> DataFrame:
    """A12: ``sum(when(cond, 1))`` conditional aggregation — one shuffle for
    any number of flags (agent4_validation.py:540-546)."""
    aggs = [F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name) for name, cond in conditions.items()]
    return df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)


def filter_by_group_sum(
    df: DataFrame,
    group_col: str,
    value_col: str,
    min_sum: float,
) -> DataFrame:
    """F3: keep rows whose group-total >= min_sum (low-count gene filter,
    agent1_deg.py:193-195). Implemented as agg + broadcast-able semi-join so
    the fact table is scanned once and never collected."""
    keep = df.groupBy(group_col).agg(F.sum(value_col).alias("_s")).filter(F.col("_s") >= min_sum)
    return df.join(keep.select(group_col), group_col, "left_semi")


def prevalence_filter(
    df: DataFrame,
    group_col: str,
    sample_col: str,
    value_col: str,
    min_value: float,
    min_fraction: float,
) -> DataFrame:
    """F4: keep groups where value >= min_value in >= min_fraction of samples
    (ml/preprocessor.py:76-90). Single conditional aggregation + semi-join."""
    stats = df.groupBy(group_col).agg(
        F.sum(F.when(F.col(value_col) >= min_value, 1).otherwise(0)).alias("_hits"),
        F.countDistinct(sample_col).alias("_n"),
    )
    keep = stats.filter(F.col("_hits") >= F.col("_n") * min_fraction)
    return df.join(keep.select(group_col), group_col, "left_semi")


def profile_table(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One-pass column profile: null rate, approx distinct, min/max/avg.

    The data-quality sweep a training-data pipeline runs before ingesting a
    new source. ALL columns profile in ONE scan (every statistic is a
    map-side-combinable aggregate; numeric-only stats are null for string
    columns). Output long: (column, n_rows, n_nulls, n_distinct,
    min_str, max_str, avg_num) — long so 10k-column tables don't need a
    10k-column result row.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    aggs: list[Column] = [F.count("*").cast("long").alias("_n")]
    for c in cols:
        col = F.col(c)
        # exact_distinct: oracle-matchable but one expand per column at scale;
        # the default HLL sketch is the 100 TB path (one buffer per column)
        dist = (
            F.count_distinct(col) if exact_distinct else F.approx_count_distinct(c, rsd=0.01)
        )
        aggs += [
            F.sum(F.when(col.isNull(), 1).otherwise(0)).cast("long").alias(f"_nulls_{c}"),
            dist.cast("long").alias(f"_dist_{c}"),
            F.min(col.cast("string")).alias(f"_min_{c}"),
            F.max(col.cast("string")).alias(f"_max_{c}"),
            # try_cast: ANSI mode (Spark 4 default) hard-fails avg over a
            # string column otherwise; non-numeric -> NULL -> avg NULL
            F.avg(col.try_cast("double")).alias(f"_avg_{c}"),
        ]
    one = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', _nulls_{c}, _dist_{c}, _min_{c}, _max_{c}, round(_avg_{c}, 6)" for c in cols
    )
    return one.selectExpr(
        "_n AS n_rows",
        f"stack({len(cols)}, {stacked}) AS (column, n_nulls, n_distinct, min_str, max_str, avg_num)",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str", "avg_num")


def group_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    qs: Sequence[float],
    out_prefix: str = "p",
) -> DataFrame:
    """Exact per-group discrete quantiles: for quantile q over the n sorted
    group values, return the value at rank max(1, ceil(q*n)) (1-indexed) —
    the lower discrete quantile, an ACTUAL group member (never interpolated),
    so the rule is engine-portable and hash-stable. Ties are harmless: the
    value at a given sorted rank is the same whichever tied row takes it.

    Output: group cols + n + one column per q named ``{prefix}{q*100:g}``.

    Scale: ONE per-group sort shuffle (rank window) feeding a
    map-side-combinable conditional agg — no per-group array materializes
    (collect_list-based quantiles die on skewed groups). When exactness is
    not required, :func:`group_quantiles_approx` is the sketch path: one
    aggregate buffer per group, no sort at all.
    """
    from pyspark.sql import Window

    keys = list(group_cols)
    w = Window.partitionBy(*keys).orderBy(F.col(value_col))
    wn = Window.partitionBy(*keys)
    r = (
        df.select(*keys, value_col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wn))
    )
    aggs = [F.max("_n").cast("long").alias("n")]
    for q in qs:
        rank = F.greatest(F.lit(1), F.ceil(F.lit(float(q)) * F.col("_n")))
        name = f"{out_prefix}{q * 100:g}"
        aggs.append(
            F.max(F.when(F.col("_rn") == rank, F.col(value_col))).alias(name)
        )
    return r.groupBy(*keys).agg(*aggs)


def group_quantiles_approx(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    qs: Sequence[float],
    accuracy: int = 10000,
    out_prefix: str = "p",
) -> DataFrame:
    """Sketch-based twin of :func:`group_quantiles` (same output shape):
    ``percentile_approx`` — one Greenwald-Khanna buffer per group, NO
    per-group sort, rank error ≤ 1/accuracy. The 100 TB default; the exact
    form exists for oracle checks and small aggregated tables."""
    keys = list(group_cols)
    aggs = [F.count("*").cast("long").alias("n")]
    for q in qs:
        name = f"{out_prefix}{q * 100:g}"
        aggs.append(
            F.percentile_approx(F.col(value_col), float(q), accuracy).alias(name)
        )
    return df.groupBy(*keys).agg(*aggs)
