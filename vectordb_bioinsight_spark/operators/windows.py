"""Window / ranking operators — SURVEY.md §2.5.

Scale note: every function here takes explicit partition keys. An
unpartitioned window (single global sort) is only ever used where the input is
provably bounded (e.g. ranked top-k candidate sets, <= fetch_k rows); for
corpus-wide normalization we compute the aggregate separately and broadcast-join
it back instead of using an empty ``partitionBy`` — identical semantics, no
single-reducer bottleneck at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rank_rows(
    df: DataFrame,
    order_by: Sequence[Column],
    partition_by: Sequence[str] = (),
    rank_col: str = "rank",
) -> DataFrame:
    """W2: dense 1-based rank assignment via row_number (requires a total
    order — include a tiebreak key). Reference: enumerate(sorted(results))
    (precision_search.py:226-229)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by) if partition_by else Window.orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w))


def max_normalize(df: DataFrame, cols: Sequence[str], suffix: str = "_norm") -> DataFrame:
    """W5: normalize columns by their global max (agent2_network.py:270-284).

    Implemented as a 1-row aggregate cross-joined back (broadcast) — NOT an
    unpartitioned window, so it scales: the agg is map-side combinable and the
    join side is one row.
    """
    maxes = df.agg(*[F.max(F.col(c)).alias(f"_max_{c}") for c in cols])
    out = df.crossJoin(F.broadcast(maxes))
    for c in cols:
        out = out.withColumn(c + suffix, F.when(F.col(f"_max_{c}") != 0, F.col(c) / F.col(f"_max_{c}")).otherwise(F.lit(0.0)))
    return out.drop(*[f"_max_{c}" for c in cols])


def percent_composition(
    df: DataFrame,
    partition_by: Sequence[str],
    count_col: str,
    pct_col: str = "pct",
) -> DataFrame:
    """W7: count / sum(count) within partition (cluster composition,
    singlecell/agent2_cluster.py:499-515)."""
    w = Window.partitionBy(*partition_by)
    return df.withColumn(pct_col, F.col(count_col) / F.sum(count_col).over(w))


def running_aggregate(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Running sum over an ordered frame (engine capability beyond the
    reference — SURVEY §2.5 'Absent')."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def lag_delta(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    delta_col: str = "delta",
) -> DataFrame:
    """lag/lead delta (week-over-week change semantics,
    bio-daily-briefing/src/trend_analyzer.py:34-66)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(delta_col, F.col(value_col) - F.lag(value_col).over(w))


def rolling_time_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    days: int = 7,
) -> DataFrame:
    """Per-key rolling time-RANGE aggregate — sum and count of the
    trailing ``days`` window ending at each event (inclusive), the
    time-interval frame shape (distinct from the ROWS frames elsewhere in
    this module: the frame is defined by TIMESTAMP DISTANCE, so it
    handles irregular event spacing and duplicate timestamps correctly).

    Spark's ``rangeBetween`` needs a numeric ordering column, so the
    frame runs over epoch seconds — semantically identical to SQL's
    ``RANGE BETWEEN INTERVAL n DAYS PRECEDING AND CURRENT ROW``.

    Plan: one key-partitioned sort window; at stream scale the same
    aggregation is the watermarked sliding window in
    streaming/trends_stream.py.

    Output: input + ``w_sum`` (rounded 4 dp) + ``w_cnt``.
    """
    secs = F.unix_timestamp(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(secs)
        .rangeBetween(-days * 86400, 0)
    )
    return df.withColumn("w_sum", F.round(F.sum(value_col).over(w), 4)).withColumn(
        "w_cnt", F.count("*").over(w).cast("long")
    )


def scaled_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str = "_rank",
    num_partitions: int = 32,
) -> DataFrame:
    """:func:`scaled_row_number_with_total` without the total (common case)."""
    out, _ = scaled_row_number_with_total(df, order_by, rank_col, num_partitions)
    return out


def scaled_row_number_with_total(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str = "_rank",
    num_partitions: int = 32,
) -> tuple[DataFrame, int]:
    """Exact global row_number WITHOUT the single-partition window — the
    reusable two-phase rank underneath ``stats.bh_adjust_scaled``, factored
    out (VERDICT r03: make scale-safe shapes the defaults):

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order keys —
       a PARALLEL shuffle that leaves partitions globally ordered and rows
       sorted within each (eager localCheckpoint pins partition identity;
       lazy was A/B-measured slower under AQE — r10);
    2. per-partition counts (one collect of ``num_partitions`` scalars) →
       rank offsets broadcast back;
    3. one mapInPandas pass adds ``offset + local_position``.

    ``order_by`` must be a TOTAL order (include a tiebreak key), exactly as
    ``Window.orderBy`` would require for a deterministic row_number.
    Driver traffic is ``num_partitions`` integers, independent of rows.

    Returns ``(ranked_df, total_rows)`` — the total falls out of the
    phase-2 partition counts for free, so callers that need N (BH, GSEA)
    never issue a separate ``count()`` job that would recompute a derived
    input's whole upstream.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    src = (
        df.repartitionByRange(num_partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_srn_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {r["_srn_pid"]: r["count"] for r in src.groupBy("_srn_pid").count().collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_off = df.sparkSession.sparkContext.broadcast(offsets)

    schema = StructType(list(src.schema.fields) + [StructField(rank_col, LongType(), True)])

    def assign(it):  # noqa: ANN001
        nxt: dict[int, int] = {}  # a partition arrives as several Arrow batches
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            pid = int(out["_srn_pid"].iloc[0])
            start = nxt.get(pid, b_off.value[pid])
            out[rank_col] = pd.RangeIndex(start + 1, start + 1 + len(out))
            nxt[pid] = start + len(out)
            yield out

    return src.mapInPandas(assign, schema=schema).drop("_srn_pid"), acc
