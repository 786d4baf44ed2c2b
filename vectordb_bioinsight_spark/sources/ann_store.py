"""Persistent ANN index storage — the index lifecycle the reference's vector
store has (ChromaDB persists its collection to disk and reloads it per
process, backend/app/core/vector_store.py:97-116) mapped to the engine's
snapshot discipline: an IVF/PQ index is a set of TABLES, written once and
probed forever.

Layout per index version (same atomic-pointer flip as sources/maintenance —
readers never see a half-written index):

    <path>/v<N>/assigned/_cell=<c>/...parquet   corpus + cell assignment,
                                                PARTITIONED BY CELL so an
                                                n_probe search reads only
                                                n_probe/n_cells of the files
                                                (partition pruning, no scan)
    <path>/v<N>/centroids/...parquet            (_cell, _centroid) — tiny
    <path>/v<N>/codebook/...parquet             optional PQ codebook rows
                                                (subspace, code, centroid)
    <path>/_CURRENT                             committed version pointer

Search after load is plan-identical to search on a freshly built index
(parity is test-pinned), plus the pruning win: the loaded ``assigned``
table carries ``_cell`` as a PARTITION column, so `ivf_search`'s probe
filter becomes a file-listing operation instead of a corpus scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.sources.maintenance import (
    _current_version,
    _flip_pointer,
    snapshot_path,
)
from vectordb_bioinsight_spark.sources.readers import read_parquet


def save_ivf_index(
    path: str,
    assigned: DataFrame,
    centroids: DataFrame,
    codebook: "list[list[list[float]]] | None" = None,
    meta: dict | None = None,
) -> int:
    """Write an index version: cell-partitioned corpus, centroid dimension,
    optional PQ codebook, and a manifest. Returns the committed version.

    ``assigned`` must carry a ``_cell`` column (ivf_build_index's output);
    everything else in it is preserved (ids, vectors, or pq codes only —
    store codes instead of raw vectors for the 32x footprint win)."""
    version = _current_version(path) + 1
    base = snapshot_path(path, version)
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(
        os.path.join(base, "assigned")
    )
    centroids.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    if codebook is not None:
        rows = [
            (s, c, list(map(float, vec)))
            for s, codes in enumerate(codebook)
            for c, vec in enumerate(codes)
        ]
        assigned.sparkSession.createDataFrame(
            rows, "subspace int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(base, "codebook"))
    manifest = {"version": version, "has_codebook": codebook is not None}
    manifest.update(meta or {})
    with open(os.path.join(base, "MANIFEST.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    _flip_pointer(path, version)
    return version


def load_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, "list[list[list[float]]] | None", dict]:
    """Load the CURRENT index version: (assigned, centroids, codebook|None,
    manifest). ``assigned._cell`` comes back as a partition column, so a
    probe filter on it prunes files before any IO. The tables are read
    through ``read_parquet``, so reloading an unchanged version infers no
    schema again."""
    version = _current_version(path)
    if version < 0:
        raise FileNotFoundError(f"no committed index at {path}")
    base = snapshot_path(path, version)
    assigned = read_parquet(spark, os.path.join(base, "assigned"))
    centroids = read_parquet(spark, os.path.join(base, "centroids"))
    with open(os.path.join(base, "MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    codebook = None
    if manifest.get("has_codebook"):
        cb_rows = read_parquet(spark, os.path.join(base, "codebook")).collect()
        m = 1 + max(r["subspace"] for r in cb_rows)
        k = 1 + max(r["code"] for r in cb_rows)
        codebook = [[None] * k for _ in range(m)]
        for r in cb_rows:
            codebook[r["subspace"]][r["code"]] = list(r["centroid"])
    return assigned, centroids, codebook, manifest


def probed_cells_scan(assigned: DataFrame, cells: "list[int]") -> DataFrame:
    """The pruned probe scan: filter on the PARTITION column — Catalyst
    turns this into partition pruning (only n_probe directories listed),
    which is the entire point of the cell-partitioned layout."""
    return assigned.filter(F.col("_cell").isin([int(c) for c in cells]))
