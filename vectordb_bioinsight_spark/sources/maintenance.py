"""Table maintenance — the mutable-store surface of the reference mapped to
copy-on-write parquet snapshots.

The reference mutates its stores in place: Chroma ``delete_paper`` deletes by
metadata predicate (vector_store.py:482-493, SURVEY S14), ``add_chunks``
upserts embedded chunks under assigned sequential ids
(vector_store.py:136-209, SURVEY S11), and the external-API caches are
refreshed by key (paper_recommender.py:219-260, SURVEY S7-S9 snapshot
dimensions). Spark storage is immutable files, so every mutation becomes a
**new snapshot**: read current → transform (anti-join / merge) → write next
version → flip a pointer. On a cluster with Delta/Iceberg the same calls map
to ``DELETE WHERE`` / ``MERGE INTO``, which rewrite only the touched files;
the snapshot discipline here keeps identical semantics with plain parquet
(atomic flip via pointer file, readers never see a half-written table).

Scale notes (100 TB):
* delete/upsert are one anti-join each — shuffle on the key only, and with
  the table bucketed by key the join is co-located (no shuffle of the big
  side at all; see writers.write_bucketed_table).
* ``assign_dense_ids`` is the scale-safe id assigner: per-partition counts
  (tiny driver collect) + per-partition offsets — NO global window, NO
  single-partition sort, unlike ``row_number() OVER ()``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.sources.readers import read_parquet

_POINTER = "_CURRENT"


def _current_version(path: str) -> int:
    ptr = os.path.join(path, _POINTER)
    if not os.path.exists(ptr):
        return -1
    with open(ptr, "r", encoding="utf-8") as fh:
        return int(fh.read().strip())


def snapshot_path(path: str, version: int | None = None) -> str:
    """Directory of one table snapshot (``<path>/v<N>``)."""
    v = _current_version(path) if version is None else version
    return os.path.join(path, f"v{v}")


def read_current(spark: SparkSession, path: str) -> DataFrame:
    """Read the current snapshot of a maintained table."""
    return read_parquet(spark, snapshot_path(path))


def _flip_pointer(path: str, version: int) -> None:
    """Atomically commit ``version`` as current (tmp write + rename)."""
    tmp = os.path.join(path, _POINTER + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(str(version))
    os.replace(tmp, os.path.join(path, _POINTER))


def write_snapshot(df: DataFrame, path: str) -> int:
    """Write ``df`` as the next snapshot and atomically flip the pointer.

    The parquet write lands fully in ``v<N+1>`` before the pointer moves, so
    concurrent readers keep resolving the old complete version (the poor
    man's transaction log — one integer, one rename-free overwrite)."""
    next_v = _current_version(path) + 1
    df.write.mode("overwrite").parquet(snapshot_path(path, next_v))
    _flip_pointer(path, next_v)
    return next_v


def create_table(df: DataFrame, path: str) -> int:
    """Materialize ``df`` as version 0 of a maintained table."""
    os.makedirs(path, exist_ok=True)
    return write_snapshot(df, path)


def delete_where(spark: SparkSession, path: str, predicate: Column) -> int:
    """S14 delete-by-predicate (vector_store.py:482-493 ``delete_paper``):
    keep rows NOT matching, as a new snapshot. Filter, not anti-join — the
    predicate is a pushed-down scan filter (shows in PushedFilters when it
    references partition/stats-friendly columns)."""
    cur = read_current(spark, path)
    return write_snapshot(cur.filter(~predicate), path)


def upsert_by_key(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> int:
    """S11 upsert / S7-S9 snapshot-cache refresh: rows of ``updates`` replace
    current rows with the same key; everything else is carried over.

    MERGE INTO semantics as one left-anti join (current minus touched keys)
    + unionByName. The anti-join shuffles on the key only; broadcast applies
    automatically when ``updates`` is dimension-sized (AQE threshold).
    """
    cur = read_current(spark, path)
    untouched = cur.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
    return write_snapshot(untouched.unionByName(updates), path)


def assign_dense_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    start: int = 0,
) -> DataFrame:
    """Sequential id assignment (S11, vector_store.py:136-158 assigns
    ``chunk_<n>`` serially) — distributed and dense, without the two traps:
    ``monotonically_increasing_id`` leaves gaps; ``row_number() OVER ()``
    funnels the table through ONE partition.

    Two phases: (1) count rows per partition (cheap action, returns
    n_partitions longs to the driver), (2) id = start + partition_offset +
    local row index via ``mapInPandas`` — no shuffle at any point.
    """
    import pandas as pd

    # Stamp the partition id as DATA and pin it with an eager local
    # checkpoint: spark_partition_id()/TaskContext are STAGE-relative, so a
    # later union or coalesce would renumber them between the counting pass
    # and the assignment pass (observed: ids reset to 0 after unionByName).
    # The checkpoint bounds cost to the batch being assigned — this runs on
    # appended increments, not the 100 TB base table.
    stamped = df.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=True)
    counts = stamped.groupBy("_pid").count().collect()
    offsets: dict[int, int] = {}
    acc = start
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]

    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType — StructType.add mutates in place, and mutating
    # df.schema's cached object desyncs the Python view from the JVM plan
    schema_out = StructType(list(df.schema.fields) + [StructField(id_col, LongType(), False)])
    b_offsets = df.sparkSession.sparkContext.broadcast(offsets)

    def _assign(it):  # noqa: ANN001 - mapInPandas iterator contract
        seen: dict[int, int] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            ids = []
            for pid in out["_pid"].tolist():
                nxt = seen.get(pid, b_offsets.value[pid])
                ids.append(nxt)
                seen[pid] = nxt + 1
            out[id_col] = pd.Series(ids, index=out.index, dtype="int64")
            yield out.drop(columns=["_pid"])

    out_fields = [f for f in schema_out.fields if f.name != "_pid"]
    return stamped.mapInPandas(_assign, schema=StructType(out_fields))


def append_with_ids(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """S11 add-chunks: assign the next dense ids after the current max and
    append as a new snapshot. The max() is a tiny agg on the id column only
    (column-pruned scan); id assignment never shuffles."""
    cur = read_current(spark, path)
    row = cur.agg(F.max(F.col(id_col)).alias("m")).first()
    next_id = int(row["m"]) + 1 if row["m"] is not None else 0
    with_ids = assign_dense_ids(new_rows, id_col=id_col, start=next_id)
    cols = cur.columns
    return write_snapshot(cur.unionByName(with_ids.select(*cols)), path)


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge — the history-keeping upgrade
    of :func:`upsert_by_key` (which overwrites): instead of replacing a
    changed row, close its validity interval and open a new one.

    ``current`` must carry ``valid_from``/``valid_to``/``is_current``
    (bootstrap with :func:`scd2_init`); ``updates`` carries the key,
    attributes, and ``ts_col`` (the change timestamp). A change is any
    difference in ``compare_cols`` (default: every non-key, non-ts
    column of ``updates``); unchanged keys keep their open row.

    Physical plan: one key-equi-join of current OPEN rows against updates
    (AQE broadcasts dimension-sized updates) + unions — no window, no
    shuffle beyond the key join; history rows pass through untouched via
    a pushed-down ``is_current`` filter.

    Null-safe comparison uses the <=> operator so NULL -> value and
    value -> NULL both count as changes.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in updates.columns if c not in set(key_cols) | {ts_col}
        ]
    # A CDC batch may carry several rows per key; the merge must apply only
    # the LATEST one, else the left join fans out and a key ends up with
    # multiple open is_current rows. Key-partitioned window (updates are
    # dimension-sized), deterministic tiebreak on the compare columns.
    from pyspark.sql.window import Window

    wk = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), *[F.col(c).desc_nulls_last() for c in compare_cols]
    )
    updates = (
        updates.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    meta = ["valid_from", "valid_to", "is_current"]
    attr_cols = [c for c in current.columns if c not in meta]

    history = current.filter(~F.col("is_current"))
    open_rows = current.filter(F.col("is_current"))
    upd = updates.select(
        *[F.col(c).alias(f"_u_{c}") for c in key_cols + compare_cols],
        F.col(ts_col).alias("_u_ts"),
    )
    cond = [F.col(k) == F.col(f"_u_{k}") for k in key_cols]
    joined = open_rows.join(upd, cond, "left")
    changed = F.coalesce(
        ~(
            F.lit(True)
            & F.expr(
                " AND ".join(f"`{c}` <=> `_u_{c}`" for c in compare_cols) or "true"
            )
        ),
        F.lit(False),
    ) & F.col("_u_ts").isNotNull()

    # open rows: carried unchanged, or closed at the update timestamp
    carried = joined.filter(~changed).select(*attr_cols, *meta)
    closed = joined.filter(changed).select(
        *attr_cols,
        F.col("valid_from"),
        F.col("_u_ts").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    # new versions for changed keys; brand-new keys open their first row
    new_versions = joined.filter(changed).select(
        *[
            F.col(f"_u_{c}").alias(c) if c in set(key_cols + compare_cols) else F.col(c)
            for c in attr_cols
        ],
        F.col("_u_ts").alias("valid_from"),
        F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    fresh = (
        upd.join(
            current.select(*key_cols).distinct(),
            [F.col(f"_u_{k}") == F.col(k) for k in key_cols],
            "left_anti",
        )
        .select(
            *[
                F.col(f"_u_{c}").alias(c)
                if c in set(key_cols + compare_cols)
                else F.lit(None).cast(current.schema[c].dataType).alias(c)
                for c in attr_cols
            ],
            F.col("_u_ts").alias("valid_from"),
            F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return history.unionByName(carried).unionByName(closed).unionByName(
        new_versions
    ).unionByName(fresh)


def scd2_init(df: DataFrame, ts_col: str) -> DataFrame:
    """Bootstrap a type-2 dimension from a plain snapshot: every row opens
    at its ``ts_col`` with an unbounded validity interval."""
    return df.select(
        *[c for c in df.columns if c != ts_col],
        F.col(ts_col).alias("valid_from"),
        F.lit(None).cast(df.schema[ts_col].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def compact_table(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """OPTIMIZE-style file compaction: rewrite the current snapshot into
    files sized for scan efficiency. Small-file sprawl is the classic
    ingest pathology (every streaming micro-batch and incremental upsert
    appends a few rows per partition); scans then pay per-file open +
    footer-read + scheduling cost. Rewriting through the snapshot
    mechanism keeps the flip atomic — readers never see a half-compacted
    table.

    File count = ceil(current bytes / target_file_mb), floor 1. Bytes are
    measured from the actual snapshot directory (parquet-encoded size, the
    number that matters for scan planning).

    Returns the new version number.
    """
    import math

    src = snapshot_path(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(src)
        for f in fns
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    cur = read_current(spark, path)
    return write_snapshot(cur.repartition(n_files), path)


def vacuum_table(path: str, keep_last: int = 2) -> list[int]:
    """VACUUM-style snapshot retention: delete all but the newest
    ``keep_last`` versions (and never the current pointer's target).
    Old versions exist for reader isolation and time travel; unbounded
    retention doubles storage on every rewrite.

    Returns the list of removed version numbers.
    """
    import re
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cur = _current_version(path)
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(path)
        if (m := re.fullmatch(r"v(\d+)", d)) and os.path.isdir(os.path.join(path, d))
    )
    keep = set(versions[-keep_last:]) | {cur}
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(os.path.join(path, f"v{v}"))
            removed.append(v)
    return removed


def snapshot_diff(
    spark: SparkSession,
    path: str,
    key_cols: "list[str]",
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change-data-feed between two snapshot versions (Delta CDF's
    table_changes analog over the copy-on-write store): one full outer join
    on the key classifies every row as ``insert`` / ``delete`` /
    ``update_postimage`` / unchanged (unchanged rows are dropped — the feed
    carries changes only).

    Physical plan: key-keyed full outer join of the two snapshots (with the
    table bucketed by key both sides are co-located); the change test is
    the null-safe struct comparison over non-key columns.

    Output: all columns of the TO version (NULL for deletes except keys)
    + ``_change_type``.
    """
    to_v = _current_version(path) if to_version is None else to_version
    old = read_parquet(spark, snapshot_path(path, from_version))
    new = read_parquet(spark, snapshot_path(path, to_v))
    attr_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *[F.col(k) for k in key_cols],
        F.struct(*[F.col(c) for c in attr_cols]).alias("_old"),
    )
    n = new.select(
        *[F.col(k) for k in key_cols],
        F.struct(*[F.col(c) for c in attr_cols]).alias("_new"),
    )
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(~F.expr("_old <=> _new"), F.lit("update_postimage"))
    )
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(
            *key_cols,
            *[F.col(f"_new.{c}").alias(c) for c in attr_cols],
            "_change_type",
        )
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: "list[str]",
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist a table BUCKETED on its join key — the co-located-join
    layout (SURVEY §2.3 scale note): two tables bucketed the same way
    join with ZERO exchanges, because every bucket pair is already
    co-partitioned on disk. At 100 TB this converts the fact-to-fact
    shuffle (the single most expensive stage in a big join) into a
    metadata no-op, at the cost of one up-front bucketed write — the
    same amortization as the reference's prebuilt Chroma index
    (backend/app/core/vector_store.py builds once, queries many).
    Pinned by tests/test_bucketed_join.py: the joined plan contains no
    Exchange on either side.

    ``sort`` additionally orders within buckets so the join needs no
    per-task sort either (SortMergeJoin reads both sides pre-sorted).
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be > 0")
    if mode == "overwrite":
        # overwrite must also clear an ORPHANED managed location (table
        # dropped from a fresh session's catalog but directory left on
        # disk) — saveAsTable refuses it with LOCATION_ALREADY_EXISTS
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort:
        w = w.sortBy(*bucket_cols)
    w.saveAsTable(table)
