"""SemDeDup semantic dedup: planted near-duplicate recovery + determinism."""

from __future__ import annotations

import numpy as np
import pytest

from vectordb_bioinsight_spark.operators.semdedup import (
    assign_fixed_centroids,
    semdedup_flags,
    semdedup_pairs,
    semdedup_survivors,
)


@pytest.fixture(scope="module")
def planted_vectors(spark):
    """60 unit-ish vectors in 16 dims: 50 random bases + 10 near-copies of
    bases 0-9 (tiny seeded jitter, cosine > 0.99 to their source)."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(50, 16))
    dups = base[:10] + rng.normal(scale=0.01, size=(10, 16))
    vecs = np.vstack([base, dups])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_assignment_deterministic_and_total(planted_vectors):
    a1 = assign_fixed_centroids(planted_vectors, "vec_id", "embedding", 4)
    a2 = assign_fixed_centroids(planted_vectors, "vec_id", "embedding", 4)
    rows1 = {r["vec_id"]: (r["cluster_id"], r["centroid_cos"]) for r in a1.collect()}
    rows2 = {r["vec_id"]: (r["cluster_id"], r["centroid_cos"]) for r in a2.collect()}
    assert rows1 == rows2
    assert len(rows1) == 60
    # centroids assign to themselves with cosine 1.0
    for cid in range(4):
        assert rows1[cid] == (cid, 1.0)


def test_planted_dups_pruned(planted_vectors):
    # a near-copy and its source always share a cluster (cosine ~1 to the
    # same centroid), so every planted dup must lose to its min-id source
    flags = {
        r["vec_id"]: r["keep"]
        for r in semdedup_flags(
            planted_vectors, "vec_id", "embedding", n_clusters=4, min_cosine=0.95
        ).collect()
    }
    assert all(not flags[i] for i in range(50, 60)), "planted dups must be dropped"
    assert all(flags[i] for i in range(10)), "min-id sources must survive"

    surv = semdedup_survivors(
        planted_vectors, "vec_id", "embedding", n_clusters=4, min_cosine=0.95
    )
    kept = {r["vec_id"] for r in surv.collect()}
    assert kept == {i for i, k in flags.items() if k}


def test_pairs_are_within_cluster_upper_triangle(planted_vectors):
    assigned = assign_fixed_centroids(planted_vectors, "vec_id", "embedding", 4)
    cluster = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    pairs = semdedup_pairs(
        planted_vectors, "vec_id", "embedding", n_clusters=4, min_cosine=0.95
    ).collect()
    assert len(pairs) >= 10
    for r in pairs:
        assert r["id1"] < r["id2"]
        assert cluster[r["id1"]] == cluster[r["id2"]]
        assert r["cosine"] >= 0.95


def test_centroid_bound_enforced(planted_vectors):
    with pytest.raises(ValueError):
        assign_fixed_centroids(planted_vectors, "vec_id", "embedding", 1000)


def test_pairs_from_assigned_matches_fixed(planted_vectors):
    from vectordb_bioinsight_spark.operators.semdedup import semdedup_pairs_from_assigned

    assigned = assign_fixed_centroids(planted_vectors, "vec_id", "embedding", 4)
    via_assigned = semdedup_pairs_from_assigned(
        assigned, "vec_id", "embedding", "cluster_id", min_cosine=0.95
    )
    direct = semdedup_pairs(
        planted_vectors, "vec_id", "embedding", n_clusters=4, min_cosine=0.95
    )
    assert sorted(map(tuple, via_assigned.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_gemm_path_matches_fold_path(planted_vectors):
    from vectordb_bioinsight_spark.operators.semdedup import (
        semdedup_survivors,
        semdedup_survivors_gemm,
    )

    # 0.95 threshold sits far from any pair's cosine in the fixture, so the
    # BLAS-vs-fold last-ulp difference cannot flip a decision
    fold = semdedup_survivors(planted_vectors, "vec_id", "embedding", 4, 0.95)
    gemm = semdedup_survivors_gemm(planted_vectors, "vec_id", "embedding", 4, 0.95)
    assert sorted(r["vec_id"] for r in fold.collect()) == sorted(
        r["vec_id"] for r in gemm.collect()
    )


def test_gemm_chunking_exact(planted_vectors):
    from vectordb_bioinsight_spark.operators.semdedup import (
        assign_fixed_centroids,
        semdedup_losers_gemm,
    )

    assigned = assign_fixed_centroids(planted_vectors, "vec_id", "embedding", 4)
    big = semdedup_losers_gemm(assigned, "vec_id", "embedding", min_cosine=0.95)
    small = semdedup_losers_gemm(
        assigned, "vec_id", "embedding", min_cosine=0.95, chunk=3
    )
    assert sorted(r["vec_id"] for r in big.collect()) == sorted(
        r["vec_id"] for r in small.collect()
    )


def test_scale_aware_n_clusters_rule():
    from vectordb_bioinsight_spark.operators.semdedup import scale_aware_n_clusters

    assert scale_aware_n_clusters(0) == 8
    assert scale_aware_n_clusters(1_000) == 8          # min clamp
    assert scale_aware_n_clusters(1_000_000) == 977    # ceil(1e6/1024)
    assert scale_aware_n_clusters(1_000_000, target_cluster_size=128) == 7813
    assert scale_aware_n_clusters(10**12) == 1 << 20   # max clamp
    # monotone in N
    ks = [scale_aware_n_clusters(n) for n in (10_000, 100_000, 1_000_000)]
    assert ks == sorted(ks)


def test_semdedup_auto_pair_count_scales_linearly(spark):
    """With k = N/target the within-cluster candidate-pair total must grow
    ~linearly in N (fixed k would grow it quadratically): 4x the corpus
    may cost at most ~2x the per-row pair budget."""
    import numpy as np

    from vectordb_bioinsight_spark.operators.semdedup import scale_aware_n_clusters
    from vectordb_bioinsight_spark.operators.vector import ivf_build_index

    rng = np.random.default_rng(7)

    from pyspark.sql import functions as F

    def pairs_for(n: int) -> int:
        vecs = rng.normal(size=(n, 8)).astype(float)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        k = scale_aware_n_clusters(n, target_cluster_size=64)
        assigned, _ = ivf_build_index(df, "vec_id", "embedding", n_cells=k, seed=1)
        sizes = [r["m"] for r in assigned.groupBy("_cell").agg(
            F.count("*").alias("m")).collect()]
        return sum(m * (m - 1) // 2 for m in sizes)

    p1, p4 = pairs_for(2_000), pairs_for(8_000)
    # linear scaling => p4 ~ 4*p1; quadratic (fixed k) would be ~16*p1.
    # KMeans imbalance gets slack up to 8x.
    assert p4 <= 8 * p1, (p1, p4)


def test_semdedup_auto_matches_fixed_semantics(spark):
    """The auto path must drop a planted near-duplicate and keep the rest
    (same min-id-survivor convention as the fixed-centroid path)."""
    import numpy as np

    from vectordb_bioinsight_spark.operators.semdedup import semdedup_survivors_auto

    rng = np.random.default_rng(3)
    base = rng.normal(size=(200, 8))
    base[57] = base[23] + 1e-4 * rng.normal(size=8)  # near-dup of an earlier id
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    surv = semdedup_survivors_auto(
        df, "vec_id", "embedding", min_cosine=0.95, target_cluster_size=64
    )
    ids = {r["vec_id"] for r in surv.collect()}
    assert 23 in ids and 57 not in ids
    assert len(ids) >= 190  # random normals are far apart; only dups drop

    # the UNDECORATED name routes by corpus size (r08): at N=200 the
    # min-clusters clamp binds, so the router picks the FIXED smallest-id
    # clustering — a different codebook than the learned path above, but
    # the same pruning decision on planted data (near-dups share a cluster
    # under ANY centroid set since their cosine to every centroid agrees)
    default_ids = {
        r["vec_id"]
        for r in semdedup_survivors(
            df, "vec_id", "embedding", min_cosine=0.95, target_cluster_size=64
        ).collect()
    }
    assert default_ids == ids


def test_gemm_round_half_up_boundary(spark):
    """ADVICE r10: the GEMM kernel must round like Spark/DuckDB (decimal
    HALF_UP), not np.round's half-even — a cosine landing exactly on a 6-dp
    dyadic half must round AWAY from zero. cos(u, v) = 13/128 = 0.1015625
    exactly (both vectors dyadic unit: norms == 1.0 in float64), so HALF_UP
    gives 0.101563 >= 0.1015625 (lose) where half-even gave 0.101562 (keep)."""
    from vectordb_bioinsight_spark.operators.semdedup import semdedup_losers_gemm

    u = [1.0, 0.0, 0.0, 0.0, 0.0]
    v = [x / 128.0 for x in (13.0, 127.0, 9.0, 2.0, 1.0)]  # 13²+127²+9²+2²+1²=128²
    df = spark.createDataFrame(
        [(1, u, 0), (2, v, 0)], "vec_id long, embedding array<double>, cluster_id int"
    )
    losers = semdedup_losers_gemm(
        df, "vec_id", "embedding", "cluster_id", min_cosine=0.1015625
    ).collect()
    assert [r["vec_id"] for r in losers] == [2]
    # and well away from the boundary the decision is unchanged
    none = semdedup_losers_gemm(
        df, "vec_id", "embedding", "cluster_id", min_cosine=0.5
    ).collect()
    assert none == []


def test_string_centroid_ids_need_quoting(spark):
    """String centroid ids holding a quote or a backslash are rendered as
    exact SQL literals: assignments equal those under plain ids of the
    same sort order."""
    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in rng.normal(size=4)] for _ in range(6)]
    odd = ["a\\b", "o'brien", "smith", "t'\\'u", "v", "w\\'"]
    plain = ["a", "b", "c", "d", "e", "f"]
    assert sorted(odd) == odd

    def assign(ids):
        df = spark.createDataFrame(list(zip(ids, vecs)), "id string, embedding array<double>")
        out = assign_fixed_centroids(df, "id", "embedding", 2).collect()
        return {r["id"]: (r["cluster_id"], r["centroid_cos"]) for r in out}

    got = assign(odd)
    want = assign(plain)
    to_plain = dict(zip(odd, plain))
    assert {to_plain[i]: (to_plain[c], cos) for i, (c, cos) in got.items()} == want
    assert got["a\\b"] == ("a\\b", 1.0) and got["o'brien"] == ("o'brien", 1.0)
