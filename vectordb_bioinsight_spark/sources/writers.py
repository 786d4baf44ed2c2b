"""Sinks — SURVEY §2.1 S10 (CSV), plus the parquet table
contract that replaces the reference's inter-agent CSV files
(orchestrator.py:168-184, base_agent.py:114-139).

Scale discipline baked in:
* ``write_table`` partitions by the declared keys and bounds file sizes with
  ``maxRecordsPerFile`` — a 100 TB table must land as many well-sized files,
  never one task's giant file or millions of tiny ones;
* writers ``repartition`` on the partition keys first so each output
  partition is written by few tasks (no small-file explosion from 1000
  tasks each appending to every partition).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    max_records_per_file: int = 1_000_000,
) -> None:
    """Parquet table sink — the inter-stage contract (Delta-style table
    semantics degrade to plain parquet here; swap format('delta') on a
    cluster with the connector)."""
    out = df
    if partition_by:
        out = out.repartition(*partition_by)
    writer = out.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """S10 CSV sink (base_agent.py:114-119)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the co-located-join layout (SURVEY §4.2).

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle: each bucket pairs 1:1 and Spark plans a
    SortMergeJoin over pre-bucketed scans (no Exchange on either side —
    asserted in tests/test_skew_sinks.py). This is how repeated fact-fact
    joins (counts ⨝ counts, postings ⨝ postings) amortize their shuffle at
    100 TB: pay the partitioning once at write time.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout — the data-skipping sink.

    ``repartitionByRange`` gives each output file a disjoint range of the
    cluster key(s); ``sortWithinPartitions`` orders rows inside each file so
    every parquet row group carries tight min/max statistics. A selective
    predicate on the cluster key then prunes at BOTH levels: whole files
    (footer min/max, checked by tests/test_skew_sinks.py against the actual
    footers) and row groups within surviving files. At 100 TB this is the
    difference between scanning the table and scanning one file — the same
    layout discipline as Delta's OPTIMIZE ZORDER for the single-key case,
    expressed with stock Spark.

    Skew note: range partitioning samples the key distribution, so heavy
    hitters widen one range instead of hot-spotting a hash bucket; a key
    with one dominant value degrades to that file being large — bound it
    with write_table's maxRecordsPerFile if needed.
    """
    cols = [df[c] for c in cluster_by]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """ORC table sink — the columnar alternative when the downstream
    consumer is Hive/Trino-first. Same layout discipline as
    :func:`write_table` (partition columns become directories, so readers
    get partition pruning for free)."""
    out = df
    writer = out.write.mode(mode)
    if partition_by:
        out = out.repartition(*partition_by)
        writer = out.write.mode(mode).partitionBy(*partition_by)
    writer.orc(path)


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits_per_col: int | None = None,
    out_col: str = "_z",
) -> DataFrame:
    """Z-order (Morton) interleave key over numeric columns — the
    MULTI-column data-skipping order (Delta's OPTIMIZE ZORDER BY,
    expressed with stock Spark expressions).

    ``write_clustered`` gives perfect skipping on its FIRST key and none on
    the others; bit-interleaving trades a little per-key tightness for
    min/max locality on EVERY key, so predicates on any clustered column
    prune files.

    Each column is scaled to ``bits_per_col`` equal-width buckets from its
    min/max (one tiny agg collect — scan-local after that; equal-width is
    the documented trade: heavy skew on a column widens its buckets, use a
    pre-computed rank column for pathological cases). Bit j of column i
    lands at interleaved position ``j * n_cols + i``; the whole key is one
    codegen'd integer expression, no UDF, no shuffle.
    """
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_key needs at least one column")
    if bits_per_col is None:
        bits_per_col = max(1, min(16, 60 // n))
    if bits_per_col * n > 63:
        # shiftleft wraps its amount mod 64 — an overflowing layout would
        # silently interleave high bits onto low positions
        raise ValueError(
            f"bits_per_col={bits_per_col} x {n} columns exceeds the 63-bit "
            "long budget; lower bits_per_col or cluster fewer columns"
        )
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"_hi{i}") for i, c in enumerate(cols)],
    ).first()
    top = (1 << bits_per_col) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = stats[f"_lo{i}"], stats[f"_hi{i}"]
        if lo is None or hi is None:
            # empty input or all-NULL column: constant bucket 0 — the write
            # still succeeds (zero or unclusterable rows, nothing to order)
            lo, hi = 0.0, 0.0
        span = (hi - lo) or 1.0
        bucket = F.least(
            F.lit(top).cast("long"),
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * top).cast("long"),
        )
        bucket = F.greatest(F.lit(0).cast("long"), F.coalesce(bucket, F.lit(0).cast("long")))
        for j in range(bits_per_col):
            z = z + F.shiftleft(
                F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * n + i
            ).cast("long")
    return df.withColumn(out_col, z)


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink: interleaved key -> range repartition
    -> in-file sort -> write (the key column itself is dropped — it is
    layout, not data). Footer min/max on EVERY clustered column then
    bounds each file to a small hyper-rectangle, so selective predicates
    on any of them skip files (test-pinned against the actual footers)."""
    keyed = zorder_key(df, cluster_by)
    (
        keyed.repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n_shards: int,
    salt: int = 0,
    score_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Training-corpus sink: shard-partitioned parquet plus the manifest
    that makes the layout trustworthy — ``<path>/data/shard=K/...`` and
    ``<path>/manifest/`` (operators/packing.shard_manifest: doc/token/
    byte totals + order-independent xor fingerprints per shard).

    ``score_col`` switches the in-shard order from the reproducible epoch
    shuffle (shuffle_shards) to the easy-first curriculum
    (curriculum_shards). A loader reads the manifest, not a file listing;
    an ingest job folds batch manifests in with merge_shard_manifests
    instead of rescanning (O(shards)/batch).

    One shuffle (the shard window — the data movement the partitioned
    write needs anyway); the manifest agg reuses the sharded frame.
    """
    from vectordb_bioinsight_spark.operators.packing import (
        curriculum_shards,
        shard_manifest,
        shuffle_shards,
    )

    if score_col is not None:
        sharded = curriculum_shards(df, id_col, score_col, n_shards, salt=salt)
    else:
        sharded = shuffle_shards(df, id_col, n_shards, salt=salt)
    # materialize ONCE: both the data write and the manifest agg read it
    sharded = sharded.localCheckpoint(eager=True)
    (
        sharded.write.mode(mode)
        .partitionBy("shard")
        .option("maxRecordsPerFile", 1_000_000)
        .parquet(f"{path}/data")
    )
    shard_manifest(sharded, "shard", id_col, text_col).write.mode(mode).parquet(
        f"{path}/manifest"
    )
