"""Hybrid-search rank fusion — SURVEY.md V5/J8/W3.

Reciprocal Rank Fusion over N ranked retrieval arms, matching the reference's
semantics (backend/app/core/vector_store.py:301-387): per-arm 0-based rank,
contribution w_arm/(rrf_k + rank + 1), missing docs contribute nothing, final
score normalized to 0-100 by the max.

Spark shape: rank each arm with a bounded window (arms are already top-fetch_k,
<= dozens of rows — the unpartitioned window is over a provably tiny set),
UNION the per-arm contributions, one groupBy(doc_id).sum, then normalize by the
max over a global window on that result (<= sum of fetch_k rows). One lazy
plan, no joins; at scale the arms are cheap and fusion cost is constant.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.hashing import sql_double, sql_inputs

RRF_K_DEFAULT = 60


def rrf_fuse(
    arms: dict[str, DataFrame],
    id_col: str = "doc_id",
    score_col: str = "score",
    weights: dict[str, float] | None = None,
    rrf_k: int = RRF_K_DEFAULT,
) -> DataFrame:
    """Fuse ranked arms {name: DataFrame(doc_id, score)} into (doc_id, rrf_score).

    Ranks are 0-based by descending score with doc_id tie-break (total order);
    rrf_score is normalized to 0-100 by the max and rounded to 6 dp for hash
    stability. Each arm's contribution and the normalization are rendered as
    SQL text and parsed once (~280 py4j round trips through the Column API
    for two arms).
    """
    weights = weights or {name: 1.0 for name in arms}
    contribs = []
    for name, df in arms.items():
        df, idq, (sq,) = sql_inputs(df, id_col, score_col)
        contribs.append(df.selectExpr(
            idq,
            f"{sql_double(weights[name])} / ({sql_double(rrf_k)}"
            f" + row_number() OVER (ORDER BY {sq} DESC, {idq} ASC)) AS _c",
        ))
    fused = reduce(DataFrame.unionByName, contribs).groupBy(idq).agg(F.expr("sum(_c) AS _raw"))
    return fused.selectExpr(idq, "round(_raw / max(_raw) OVER () * 100.0D, 6) AS rrf_score")


def retrieval_metrics(
    results: DataFrame,
    relevance: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Ranking-quality metrics per query — nDCG@k, MRR@k, precision@k.

    ``results``: (query_id, cand_id, rank) from any retrieval arm (BM25,
    kNN, hybrid RRF). ``relevance``: (query_id, cand_id, rel) graded gains
    (binary or graded). The ideal DCG is computed from the relevance table
    itself (top-k gains per query), so nDCG is self-contained.

    Standard formulation: DCG@k = Σ rel_i / log2(rank_i + 1).
    Output: (query_id, n_rel, dcg, idcg, ndcg, mrr, precision_k) — floats
    rounded 6 dp; queries with no relevant docs report 0 metrics (not NULL).
    ``n_rel`` is the query's TOTAL relevant-doc count (counted before the
    ideal window's top-k cap — not min(n_rel, k)), and the relevance table
    is de-duplicated on (query_id, cand_id) with max(rel) first, so
    duplicate judgment rows cannot fan out the results join and inflate
    dcg/mrr/precision.

    Scale: two equi-joins on (query_id, cand_id) + one window over the
    relevance table capped at k — result-set sized, negligible next to the
    retrieval that produced it.
    """
    from pyspark.sql import Window

    res = results.filter(F.col("rank") <= k).select("query_id", "cand_id", "rank")
    rel = (
        relevance.filter(F.col("rel") > 0)
        .groupBy("query_id", "cand_id")
        .agg(F.max("rel").alias("rel"))
    )
    hits = res.join(rel, ["query_id", "cand_id"], "left").withColumn(
        "_gain", F.coalesce(F.col("rel"), F.lit(0.0))
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.col("_gain") / F.log2(F.col("rank") + 1)).alias("_dcg"),
        F.max(
            F.when(F.col("rel").isNotNull(), 1.0 / F.col("rank")).otherwise(0.0)
        ).alias("_mrr"),
        (
            F.sum(F.when(F.col("rel").isNotNull(), 1).otherwise(0)) / F.lit(float(k))
        ).alias("_prec"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    ideal = (
        rel.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .groupBy("query_id")
        .agg(F.sum(F.col("rel") / F.log2(F.col("_r") + 1)).alias("_idcg"))
    )
    n_rel = rel.groupBy("query_id").agg(F.count("*").cast("long").alias("n_rel"))
    return (
        per_q.join(ideal, "query_id", "left")
        .join(n_rel, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
            F.round(F.coalesce("_dcg", F.lit(0.0)), 6).alias("dcg"),
            F.round(F.coalesce("_idcg", F.lit(0.0)), 6).alias("idcg"),
            F.round(
                F.when(
                    F.coalesce("_idcg", F.lit(0.0)) > 0, F.col("_dcg") / F.col("_idcg")
                ).otherwise(0.0),
                6,
            ).alias("ndcg"),
            F.round(F.coalesce("_mrr", F.lit(0.0)), 6).alias("mrr"),
            F.round(F.coalesce("_prec", F.lit(0.0)), 6).alias("precision_k"),
        )
    )


def pairwise_candidate_sims(
    cands: DataFrame,
    query_col: str = "query_id",
    id_col: str = "cand_id",
    vec_col: str = "vec",
) -> DataFrame:
    """All ordered candidate pairs per query with cosine similarity —
    the input MMR needs: (query_id, id_a, id_b, sim), id_a != id_b,
    both directions, rounded 6 dp.

    Quadratic ONLY per candidate set (the bounded top-N of a retrieval
    stage, never the corpus) and an equi-join on the query key — n² of
    20 is 380 rows/query; queries scale out across partitions."""
    from vectordb_bioinsight_spark.functions.vector import dot_product, l2_norm

    a = cands.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        l2_norm(vec_col).alias("_na"),
    )
    b = cands.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(vec_col).alias("_nb"),
    )
    sim = dot_product("_va", "_vb") / F.nullif(
        F.col("_na") * F.col("_nb"), F.lit(0.0)
    )
    return (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("query_id", "id_a", "id_b", F.round(sim, 6).alias("sim"))
    )


def mmr_select(
    cands: DataFrame,
    sims: DataFrame,
    query_col: str = "query_id",
    id_col: str = "cand_id",
    rel_col: str = "rel",
    lam: float = 0.7,
    k: int = 4,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) result
    diversification: greedily pick k candidates per query maximizing
    ``lam*rel - (1-lam)*max_sim_to_already_selected``.

    MMR is inherently sequential in k, so the greedy loop is UNROLLED
    INTO THE PLAN: k window-argmax iterations, all JVM expressions — no
    Python, no driver data. k is a small constant (a result page); the
    scale axis is #queries, which partitions the windows. ``sims`` must
    cover every ordered candidate pair per query
    (:func:`pairwise_candidate_sims`).

    Determinism: rel and sim arrive rounded 6 dp, each step's score is
    rounded at 7 dp — EXACT, since 6-dp inputs times 1-dp coefficients
    are 7-dp decimals, so no half-way case exists — ties break toward
    the smaller id — total order, the
    DuckDB twin replays bit-for-bit.

    Output: (query_id, cand_id, pick_rank 1..k, mmr_score).
    """
    lam_c = F.lit(float(lam))
    w = Window.partitionBy("query_id").orderBy(F.desc("_mmr"), F.asc("cand_id"))
    base = cands.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("cand_id"),
        F.col(rel_col).alias("_rel"),
    )
    sym = sims.select(
        F.col(query_col).alias("query_id") if query_col != "query_id" else F.col("query_id"),
        "id_a",
        "id_b",
        "sim",
    )
    selected: DataFrame | None = None
    remaining = base
    for step in range(1, k + 1):
        if selected is None:
            scored = remaining.withColumn("_mmr", F.round(lam_c * F.col("_rel"), 7))
        else:
            max_sim = (
                sym.join(
                    selected.select("query_id", F.col("cand_id").alias("id_a")),
                    ["query_id", "id_a"],
                )
                .groupBy("query_id", F.col("id_b").alias("cand_id"))
                .agg(F.max("sim").alias("_maxsim"))
            )
            scored = remaining.join(max_sim, ["query_id", "cand_id"]).withColumn(
                "_mmr",
                F.round(lam_c * F.col("_rel") - (F.lit(1.0) - lam_c) * F.col("_maxsim"), 7),
            )
        pick = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                "cand_id",
                F.lit(step).alias("pick_rank"),
                F.col("_mmr").alias("mmr_score"),
            )
        )
        selected = pick if selected is None else selected.unionByName(pick)
        remaining = remaining.join(
            selected.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti"
        )
    return selected


def mmr_select_grouped(
    cands: DataFrame,
    sims: DataFrame,
    query_col: str = "query_id",
    id_col: str = "cand_id",
    rel_col: str = "rel",
    lam: float = 0.7,
    k: int = 4,
) -> DataFrame:
    """applyInPandas twin of :func:`mmr_select` for large k (the unrolled
    plan grows ~k² subtrees): one Arrow group per query, the same greedy
    with numpy, same rounding/ties. Equivalence test-pinned."""
    import numpy as np
    import pandas as pd

    lam_f = float(lam)

    joined = (
        cands.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("cand_id"),
            F.col(rel_col).alias("_rel"),
        )
        .join(
            sims.groupBy(
                F.col(query_col).alias("query_id") if query_col != "query_id" else F.col("query_id"),
                F.col("id_b").alias("cand_id"),
            ).agg(
                F.collect_list(F.struct("id_a", "sim")).alias("_sims")
            ),
            ["query_id", "cand_id"],
            "left",
        )
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        ids = pdf["cand_id"].to_numpy()
        rel = pdf["_rel"].to_numpy(dtype=np.float64)
        idx = {c: i for i, c in enumerate(ids)}
        n = len(ids)
        S = np.full((n, n), -np.inf)
        for i, row in enumerate(pdf["_sims"]):
            if row is None:
                continue
            for entry in row:
                j = idx.get(entry["id_a"])
                if j is not None:
                    S[i, j] = entry["sim"]
        picked: list[int] = []
        out = []
        avail = np.ones(n, dtype=bool)
        for step in range(1, min(k, n) + 1):
            if not picked:
                score = np.round(lam_f * rel, 7)
            else:
                ms = S[:, picked].max(axis=1)
                score = np.round(lam_f * rel - (1.0 - lam_f) * ms, 7)
            score_masked = np.where(avail, score, -np.inf)
            best = int(np.lexsort((ids, -score_masked))[0])
            picked.append(best)
            avail[best] = False
            out.append((pdf["query_id"].iloc[0], ids[best], step, float(score[best])))
        return pd.DataFrame(out, columns=["query_id", "cand_id", "pick_rank", "mmr_score"])

    return joined.groupBy("query_id").applyInPandas(
        greedy, schema="query_id long, cand_id long, pick_rank int, mmr_score double"
    )
