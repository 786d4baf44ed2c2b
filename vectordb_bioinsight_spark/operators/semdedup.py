"""SemDeDup-style semantic deduplication over an embedding column.

Public-method lineage: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) —
cluster the embedding space so the quadratic pairwise-cosine step runs
within clusters only, then drop all but one member of every semantic-dup
group. Extends the reference's embedding-cosine near-dup capability
(backend/app/core/vector_store.py:603-606 cosine ranking) from "find
similar" to "prune the corpus", the way a 100 TB training-data pipeline
uses it.

Determinism contract: the clustering step here is NOT k-means. Centroids
are the ``n_clusters`` smallest-id vectors — a fixed, engine-replayable
choice, so the whole operator (assignment → pairs → survivor flags) has an
exact DuckDB oracle. A learned codebook drops in unchanged: build one with
``operators.vector.ivf_build_index`` (seeded MLlib KMeans) and pass its
assignment through ``semdedup_pairs_from_assigned`` — same downstream
plan, weaker (rows-only) checkability.

Scale shape: the centroid set is tiny and inlined as literals, so cluster
assignment is a scan-local expression — no shuffle, no row blowup, stays
in whole-stage codegen. The only shuffle is the within-cluster equi-join
(quadratic in cluster size, expected N²/k pairs, never N²) — the same
blocking discipline as the MinHash-LSH path in operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.hashing import quote_name, sql_double, sql_inputs, sql_string
from vectordb_bioinsight_spark.functions.vector import cosine_similarity
from vectordb_bioinsight_spark.operators.vector import similarity_self_join

#: Centroid sets are inlined as expression literals; keep them small enough
#: that the generated argmax expression stays compilable. A real codebook
#: bigger than this belongs in ivf_build_index's broadcast-join path.
MAX_INLINE_CENTROIDS = 64

#: The single source of truth for the minimum cluster count: it is both
#: scale_aware_n_clusters' clamp floor and the router's small-corpus pivot
#: (semdedup_survivors routes to the fixed deterministic clustering exactly
#: when the clamp binds), and plans/catalog_vector.py's SEMDEDUP_CLUSTERS
#: re-exports it into the oracle SQL — one definition, three users, so the
#: router and the oracle pin cannot drift apart (ADVICE r08).
MIN_CLUSTERS = 8


def assign_fixed_centroids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
) -> DataFrame:
    """Nearest-of-k-fixed-centroids cluster assignment by cosine.

    Centroids = the ``n_clusters`` smallest-id vectors (deterministic).
    Ties on rounded cosine go to the smaller centroid id, so assignment is
    total-order stable across engines. The tie-break key is the centroid's
    RANK in the id-sorted centroid list (not the id value itself), so any
    orderable id type — int, string, UUID — works unchanged.

    Output: input columns + ``cluster_id`` (the centroid's id) +
    ``centroid_cos`` (cosine to it, rounded 6 dp; zero-norm vectors score
    -2.0 — below any real cosine — instead of NULL, keeping the argmax
    NULL-free on every engine).
    """
    if n_clusters < 1 or n_clusters > MAX_INLINE_CENTROIDS:
        raise ValueError(f"n_clusters must be in [1, {MAX_INLINE_CENTROIDS}]")
    vq = quote_name(vec_col)
    if vq is None:  # dotted name (F.col semantics): read it under a fixed alias
        return assign_fixed_centroids(
            vectors.withColumn("_cent_in", F.col(vec_col)), id_col, "_cent_in", n_clusters
        ).drop("_cent_in")
    src, idq, (vin,) = sql_inputs(vectors, id_col, vec_col)
    cents = (
        src.selectExpr(f"{idq} AS _id", f"{vin} AS _v").orderBy("_id").limit(n_clusters).collect()
    )
    if not cents:
        raise ValueError("assign_fixed_centroids: empty input")
    # The whole k-way argmax is rendered as ONE SQL string and parsed once:
    # k py4j-composed cosine folds cost ~0.1 s each in Column-API round
    # trips (measured ~0.9 s of pure plan-build at k=8), while one
    # F.expr parse of the same tree is ~10 ms. Catalyst sees an identical
    # expression either way.
    def _cent_sql(rank: int, row) -> str:
        arr = "array(" + ",".join(sql_double(x) for x in row["_v"]) + ")"
        cid = row["_id"]
        cid_sql = sql_string(cid) if isinstance(cid, str) else repr(cid)
        cos = (
            f"aggregate(zip_with({vq}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y),"
            f" 0.0D, (acc, v) -> acc + v)"
            f" / nullif(sqrt(aggregate(transform({vq}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
            f" * sqrt(aggregate(transform({arr}, x -> x * x), 0.0D, (acc, v) -> acc + v)), 0.0D)"
        )
        # rank-based tie-break: cents is id-sorted, so -rank orders ties
        # toward the smaller centroid id without ever casting the id
        # (string/UUID ids work; struct compare stops here)
        return (
            f"struct(coalesce(round({cos}, 6), -2.0D) AS cos,"
            f" {-rank} AS neg_rank, {cid_sql} AS cid)"
        )

    scored_sql = "array(" + ",".join(_cent_sql(r, row) for r, row in enumerate(cents)) + ")"
    best = F.array_max(F.expr(scored_sql))
    return vectors.withColumn("cluster_id", best["cid"]).withColumn(
        "centroid_cos", best["cos"]
    )


def semdedup_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    min_cosine: float = 0.95,
) -> DataFrame:
    """Within-cluster semantic-dup pairs (id1, id2, cosine), id1 < id2.

    The quadratic step is confined to one cluster per pair — an equi-join
    on ``cluster_id``, never a cross join.
    """
    assigned = assign_fixed_centroids(vectors, id_col, vec_col, n_clusters)
    return similarity_self_join(
        assigned, id_col, vec_col, min_cosine=min_cosine, block_col="cluster_id"
    )


def semdedup_pairs_from_assigned(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str = "cluster_id",
    min_cosine: float = 0.95,
) -> DataFrame:
    """Within-cluster dup pairs from a PRE-ASSIGNED clustering — the drop-in
    for a learned codebook (``ivf_build_index``'s ``_cell`` column) or any
    external cluster label. Same downstream plan as :func:`semdedup_pairs`,
    minus the fixed-centroid step."""
    return similarity_self_join(
        assigned, id_col, vec_col, min_cosine=min_cosine, block_col=cluster_col
    )


def semdedup_flags(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    min_cosine: float = 0.95,
) -> DataFrame:
    """Per-vector keep/drop decision: drop iff a SMALLER-id vector in the
    same cluster is within ``min_cosine`` (min-id survivor — the same
    convention as operators/dedup.py exact/near dedup, so mixed pipelines
    agree on who survives).

    Output: (id, cluster_id, centroid_cos, keep).
    """
    # ONE cluster-partitioned materialization of the assignment feeds both
    # the loser kernel and the final flag join, instead of re-running the
    # k-way centroid argmax once per consumer. The explicit repartition is
    # the cluster co-location the loser step needs anyway.
    base = assign_fixed_centroids(vectors, id_col, vec_col, n_clusters).select(
        id_col, "cluster_id", "centroid_cos", vec_col
    ).repartition("cluster_id")
    # the quadratic within-cluster step runs as per-cluster BLAS
    # (semdedup_losers_gemm), not the JVM zip_with/aggregate pair fold:
    # higher-order array functions evaluate interpreted (outside
    # whole-stage codegen) at ~45 µs/pair on 64-dim vectors — 251k pairs
    # at sf0.1 burned ~1.4 s in the fold where one rounded C·Cᵀ per
    # cluster block is milliseconds (guide §4.2: hand whole batches to
    # vectorized native code). Decision semantics are the fold's exactly:
    # round(cos, 6) >= min_cosine on the same float64 inputs, oracle
    # parity re-verified at all three SFs on landing.
    losers = semdedup_losers_gemm(
        base, id_col, vec_col, "cluster_id", min_cosine
    ).withColumn("_lose", F.lit(True))
    return (
        base.select(id_col, "cluster_id", "centroid_cos")
        .join(losers, id_col, "left")
        .withColumn("keep", F.col("_lose").isNull())
        .drop("_lose")
    )


def semdedup_survivors_fixed(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    min_cosine: float = 0.95,
) -> DataFrame:
    """The pruned corpus under the FIXED-centroid clustering: all input
    columns, losers removed. Exactly hash-replayable (the oracle-catalog
    variant) but its clusters fatten as N grows — at scale use the
    undecorated :func:`semdedup_survivors` default (learned codebook,
    constant cluster size, linear pairs)."""
    flags = semdedup_flags(vectors, id_col, vec_col, n_clusters, min_cosine)
    losers = flags.filter(~F.col("keep")).select(id_col)
    return vectors.join(losers, id_col, "left_anti")


def semdedup_survivors(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int | None = None,
    min_cosine: float = 0.95,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """The pruned corpus: all input columns, semantic-dup losers removed.

    DEFAULT = the scale-aware route (VERDICT r03 "make the scale-safe paths
    the defaults"), picked from the corpus size:

    * **Small corpora** — where the :func:`scale_aware_n_clusters`
      min-clusters clamp binds (``ceil(N / target_cluster_size) <=
      min_clusters``, i.e. N <= 8·1024 by default) — route to the FIXED
      smallest-id-centroid clustering at ``min_clusters`` cells. The
      KMeans fit dominates one-shot cost (measured ~8 s of a 9 s
      single-batch run, operators/vector.py::ivf_build_index) and the
      clamp forces the same k anyway, so learning a codebook buys
      nothing here; the fixed path is also exactly hash-replayable,
      which is what lets the driver oracle this default end-to-end.
    * **At scale** — learned codebook with k = ceil(N / target) so
      expected cluster size stays ``target_cluster_size`` and total
      candidate pairs stay LINEAR in N (:func:`semdedup_survivors_auto`).

    Passing an explicit ``n_clusters`` always opts into the fixed
    clustering (:func:`semdedup_survivors_fixed`) — quadratic pairs at
    fixed k, intended for oracle replay and small corpora only.
    """
    if n_clusters is not None:
        return semdedup_survivors_fixed(
            vectors, id_col, vec_col, n_clusters, min_cosine
        )
    n = vectors.count()
    k = scale_aware_n_clusters(n, target_cluster_size)
    # the min-clusters clamp binds exactly when k == its floor, so the
    # routing condition is the clamp itself — no re-derived ceil-div
    if k <= MIN_CLUSTERS:
        return semdedup_survivors_fixed(
            vectors, id_col, vec_col, MIN_CLUSTERS, min_cosine
        )
    return semdedup_survivors_auto(
        vectors, id_col, vec_col, min_cosine=min_cosine,
        target_cluster_size=target_cluster_size, n_rows=n, n_clusters_hint=k,
    )


def semdedup_losers_gemm(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str = "cluster_id",
    min_cosine: float = 0.95,
    chunk: int = 1024,
) -> DataFrame:
    """Within-cluster loser ids via per-cluster BLAS — the scale path for the
    quadratic step (same fold→GEMM discipline as knn_join_gemm: expression
    folds pay per-pair array allocation; one normalized C·Cᵀ per cluster
    block is a vectorized matmul). Row-chunked so peak memory is
    O(chunk · cluster_size), never cluster_size².

    A row LOSES iff any smaller-id row in its cluster has
    round(cosine, 6) >= ``min_cosine`` — the 6-dp pre-round is the fold
    path's and the DuckDB twin's exact decision rule. The bulk pre-round is
    vectorized ``np.round`` (half-even on the scaled float), and every
    element whose decision COULD differ from Spark's decimal HALF_UP
    ``round()`` — those within two 1e-6 grains of ``min_cosine`` — is
    re-rounded exactly via ``decimal`` on the shortest float repr, which is
    bit-for-bit what Spark's ``Round`` (BigDecimal.valueOf + HALF_UP)
    computes (ADVICE r10: np.round alone can flip a keep/drop on a dyadic
    6-dp half like 0.1015625). The residual difference from the fold is
    BLAS summation order inside the unrounded cosine only (last-ulp;
    oracle-parity-verified at all three SFs as semdedup_flags' default
    loser kernel).

    Output: one column (``id_col``) of losers, id dtype preserved.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def find(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from decimal import ROUND_HALF_UP, Decimal

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = len(pdf)
        if m < 2:
            return pdf.iloc[0:0][[id_col]]
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = np.nan  # zero vectors match nothing (NULL cosine)
        nm = mat / norms
        lose = np.zeros(m, dtype=bool)
        grain = Decimal("0.000001")
        for s in range(1, m, chunk):
            e = min(s + chunk, m)
            # rows s..e vs ALL earlier rows (j < i enforced by the mask)
            sims = nm[s:e] @ nm[:e].T
            rounded = np.round(sims, 6)
            # exact HALF_UP re-round where half-even / float-scaling could
            # flip the >= decision (NaNs never enter: NaN comparisons are
            # False, so zero-vector rows keep their no-match semantics)
            suspect = np.abs(sims - min_cosine) < 2e-6
            if suspect.any():
                rounded[suspect] = [
                    float(Decimal(repr(v)).quantize(grain, rounding=ROUND_HALF_UP))
                    for v in sims[suspect]
                ]
            jj = np.arange(e)[None, :]
            ii = np.arange(s, e)[:, None]
            hit = (rounded >= min_cosine) & (jj < ii)
            lose[s:e] |= np.nan_to_num(hit).any(axis=1)
        return pdf.loc[lose, [id_col]]

    out_schema = T.StructType([assigned.schema[id_col]])
    return assigned.select(id_col, vec_col, cluster_col).groupBy(
        cluster_col
    ).applyInPandas(find, schema=out_schema)


def semdedup_survivors_gemm(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    min_cosine: float = 0.95,
) -> DataFrame:
    """GEMM-path survivors: fixed-centroid assignment (scan-local) +
    per-cluster BLAS loser detection + anti join."""
    assigned = assign_fixed_centroids(vectors, id_col, vec_col, n_clusters)
    losers = semdedup_losers_gemm(
        assigned, id_col, vec_col, "cluster_id", min_cosine
    )
    return vectors.join(losers, id_col, "left_anti")


def scale_aware_n_clusters(
    n_rows: int,
    target_cluster_size: int = 1024,
    min_clusters: int = MIN_CLUSTERS,
    max_clusters: int = 1 << 20,
) -> int:
    """The SemDeDup cluster-count rule for a corpus of ``n_rows`` vectors:
    k = ceil(N / target_cluster_size), clamped to [min_clusters,
    max_clusters].

    Scaling rationale (SCALING.md rule "scale k with N"): within-cluster
    candidate pairs total ~ N·target/2 under k ∝ N — LINEAR in corpus
    size. A fixed small k (the inline-centroid default, fine at bench SF)
    makes clusters fatten as N grows and the pair join quadratic:
    SemDeDup's own config (Abbas et al. 2023, arXiv:2303.09540 — 50k
    clusters for LAION-440M, ~9k vectors/cluster) is this same
    constant-cluster-size discipline.
    """
    if n_rows <= 0:
        return min_clusters
    k = -(-n_rows // max(1, target_cluster_size))  # ceil div
    return max(min_clusters, min(k, max_clusters))


def semdedup_survivors_auto(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    target_cluster_size: int = 1024,
    fit_sample_fraction: float | None = None,
    seed: int = 42,
    n_rows: int | None = None,
    n_clusters_hint: int | None = None,
) -> DataFrame:
    """The 100 TB semdedup route: LEARNED codebook (seeded MLlib KMeans via
    ``ivf_build_index``) with the cluster count chosen from the corpus size
    by :func:`scale_aware_n_clusters`, then per-cluster BLAS loser
    detection (:func:`semdedup_losers_gemm`) and an anti join.

    Contrast with :func:`semdedup_survivors_gemm` (fixed inlined centroids,
    k <= 64): that path is exactly hash-replayable for the oracle gate but
    its clusters grow with N; this path keeps expected cluster size at
    ``target_cluster_size`` regardless of corpus size, so the quadratic
    step stays bounded per cluster and linear overall. The KMeans fit can
    run on a sample (``fit_sample_fraction``) — at billions of vectors fit
    on ~10M and assign the full corpus, standard IVF training.
    """
    from vectordb_bioinsight_spark.operators.vector import ivf_build_index

    n = vectors.count() if n_rows is None else n_rows
    k = n_clusters_hint or scale_aware_n_clusters(n, target_cluster_size)
    assigned, _cents = ivf_build_index(
        vectors, id_col, vec_col, n_cells=k, seed=seed,
        fit_sample_fraction=fit_sample_fraction,
    )
    clustered = assigned.select(
        F.col("cand_id").alias(id_col),
        F.col("_cv").alias(vec_col),
        F.col("_cell").alias("cluster_id"),
    )
    losers = semdedup_losers_gemm(clustered, id_col, vec_col, "cluster_id", min_cosine)
    return vectors.join(losers, id_col, "left_anti")
