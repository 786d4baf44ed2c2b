"""Vector / retrieval query catalog — SURVEY.md §2.9 (the VectorDB core) on
the driver's ``embeddings`` + ``documents`` tables (doc_id ≡ vec_id).

The hybrid-search flagship mirrors the reference's §3.1 lifecycle as ONE lazy
DataFrame DAG: dense arm (brute-force cosine kNN) + sparse arm (BM25 subplan)
→ RRF union + groupBy fusion → normalized top-k. No imperative staging — Catalyst
sees the whole plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.text import tokenize_duckdb
from vectordb_bioinsight_spark.functions.vector import array_mean_long
from vectordb_bioinsight_spark.operators.bm25 import bm25_topk
from vectordb_bioinsight_spark.operators.fusion import rrf_fuse
from vectordb_bioinsight_spark.operators.vector import knn_brute_force
from vectordb_bioinsight_spark.sources.readers import load_table

QUERY_VEC_ID = 0
HYBRID_QUERY_TEXT = "merge join filter"
_TOK3 = tokenize_duckdb("text")

_QUERY_VEC_CACHE: dict[str, list[float]] = {}


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = QUERY_VEC_ID) -> list[float]:
    """Fetch the query vector once per sf_dir (a query *parameter*, not a
    distributed read — one row via pushed-down vec_id filter)."""
    key = f"{sf_dir}:{vec_id}"
    if key not in _QUERY_VEC_CACHE:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        _QUERY_VEC_CACHE[key] = [float(x) for x in row[0]]
    return _QUERY_VEC_CACHE[key]


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3: exact brute-force cosine top-10 to the vec_id=0 query vector.
    Physical plan: single scan + TakeOrderedAndProject (per-partition heaps)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    out = knn_brute_force(emb, "vec_id", "embedding", qv, k=10, metric="cosine")
    return out.withColumnRenamed("score", "cosine")


SQL_KNN_COSINE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
pairs AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
), sums AS (
  SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
  FROM pairs GROUP BY 1
)
SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS cosine
FROM sums ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 (L2 metric — Chroma's default distance, vector_store.py:272-299)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    out = knn_brute_force(emb, "vec_id", "embedding", qv, k=10, metric="l2")
    return out.withColumnRenamed("score", "l2_dist")


SQL_KNN_L2 = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
pairs AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
), sums AS (
  SELECT vec_id, sum((x - y) * (x - y)) AS ss FROM pairs GROUP BY 1
)
SELECT vec_id, round(sqrt(ss), 6) AS l2_dist
FROM sums ORDER BY l2_dist ASC, vec_id ASC LIMIT 10
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: element-wise mean embedding per label, long form (label, pos, avg_val)
    — per-paper mean-embedding semantics (vector_store.py:508-536)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = array_mean_long(emb, ["label"], "embedding")
    return out.select(
        "label", F.col("pos").cast("long").alias("pos"), F.round("avg_val", 6).alias("avg_val")
    )


SQL_LABEL_CENTROIDS = """
SELECT label, CAST(gs - 1 AS BIGINT) AS pos, round(avg(v), 6) AS avg_val
FROM (
  SELECT label, unnest(embedding)::DOUBLE AS v, generate_subscripts(embedding, 1) AS gs
  FROM embeddings
)
GROUP BY label, pos
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4: BM25 Okapi top-10 as a relational subplan (postings ⨝ stats ⨝ query
    terms), rank_bm25-compatible scoring."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", HYBRID_QUERY_TEXT, k=10)


def _sql_bm25_scores(limit: int, query_text: str | None = None) -> str:
    terms = ", ".join(f"'{t}'" for t in (query_text or HYBRID_QUERY_TEXT).split())
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOK3} AS tk FROM documents
), postings AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2
), ds AS (
  -- corpus stats over docs with >= 1 token (engine spec: empty docs carry
  -- no BM25 mass and drop out of the single-pass aggregate)
  SELECT doc_id, length(tk) AS dl FROM toks WHERE length(tk) > 0
), corpus AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM ds
), qt AS (
  SELECT unnest([{terms}]) AS term
), tdf AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM postings JOIN qt USING (term) GROUP BY 1
), scored AS (
  SELECT p.doc_id,
         ln((c.n_docs - t.df + 0.5) / (t.df + 0.5) + 1.0)
         * (p.tf * 2.5) / (p.tf + 1.5 * (1.0 - 0.75 + 0.75 * d.dl / c.avgdl)) AS ts
  FROM postings p JOIN tdf t USING (term) JOIN ds d USING (doc_id), corpus c
)
SELECT doc_id, round(sum(ts), 6) AS score FROM scored GROUP BY 1
ORDER BY score DESC, doc_id ASC LIMIT {limit}
"""


SQL_BM25_TOPK = _sql_bm25_scores(10)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 flagship: hybrid search — dense cosine arm + BM25 arm, RRF-fused
    with the reference's weights/constant (0.6 dense / 0.4 sparse, k=60,
    normalize to 0-100; vector_store.py:301-387, config.py:157-158).

    One lazy DAG: two bounded arms (fetch_k=50) → window rank → union of
    per-arm contributions → groupBy(doc_id).sum → max-normalize → top-10.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    dense = knn_brute_force(emb, "vec_id", "embedding", qv, k=50, metric="cosine").withColumnRenamed(
        "vec_id", "doc_id"
    )
    sparse = bm25_topk(docs, "doc_id", "text", HYBRID_QUERY_TEXT, k=50)
    fused = rrf_fuse(
        {"dense": dense, "sparse": sparse},
        id_col="doc_id",
        score_col="score",
        weights={"dense": 0.6, "sparse": 0.4},
        rrf_k=60,
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)


def _sql_hybrid_rrf() -> str:
    dense_arm = f"""
  SELECT vec_id AS doc_id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS score
  FROM (
    SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
    FROM (
      SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
      FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    ) GROUP BY 1
  ) ORDER BY score DESC, doc_id ASC LIMIT 50
"""
    sparse_arm = _sql_bm25_scores(50)
    return f"""
WITH dense AS ({dense_arm}),
sparse AS ({sparse_arm}),
dr AS (
  SELECT doc_id, 0.6 / (60.0 + row_number() OVER (ORDER BY score DESC, doc_id ASC)) AS c_dense
  FROM dense
), sr AS (
  SELECT doc_id, 0.4 / (60.0 + row_number() OVER (ORDER BY score DESC, doc_id ASC)) AS c_sparse
  FROM sparse
), fused AS (
  SELECT coalesce(dr.doc_id, sr.doc_id) AS doc_id,
         coalesce(c_dense, 0.0) + coalesce(c_sparse, 0.0) AS rrf_raw
  FROM dr FULL OUTER JOIN sr ON dr.doc_id = sr.doc_id
)
SELECT doc_id, round(rrf_raw / (SELECT max(rrf_raw) FROM fused) * 100.0, 6) AS rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
"""


SQL_HYBRID_RRF = _sql_hybrid_rrf()


def q_rerank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 rerank stage: BM25 top-20 candidate pool, 'cross-encoder' arm
    stood in by the deterministic rule-quality score (the inference UDF slot
    — reranker.py:110-278), min-max normalized, blended 0.3*orig +
    0.7*rerank, re-sorted, truncated to 10."""
    from vectordb_bioinsight_spark.operators.scoring import rerank_blend
    from vectordb_bioinsight_spark.plans.catalog_stats import q_doc_rule_scores

    docs = load_table(spark, sf_dir, "documents")
    pool = bm25_topk(docs, "doc_id", "text", HYBRID_QUERY_TEXT, k=20)
    quality = q_doc_rule_scores(spark, sf_dir)
    cand = pool.join(quality, "doc_id")
    out = rerank_blend(cand, "score", "quality_points", orig_weight=0.3,
                       top_k=10, order_tiebreak=["doc_id"])
    return out.select("doc_id", "final_score")


def _sql_rerank_blend() -> str:
    quality = """
         (CASE WHEN n_chars >= 300 THEN 20.0 WHEN n_chars >= 200 THEN 10.0 ELSE 0.0 END)
         + (CASE WHEN lang = 'en' THEN 15.0 ELSE 0.0 END)
         + (CASE WHEN text LIKE '%vector%' THEN 10.0 ELSE 0.0 END)
         + (CASE WHEN source IN ('src0', 'src1', 'src2') THEN 5.0 ELSE 0.0 END)
"""
    return f"""
WITH pool AS ({_sql_bm25_scores(20)}),
cand AS (
  SELECT p.doc_id, p.score AS orig, round({quality}, 4) AS rq
  FROM pool p JOIN documents d USING (doc_id)
), bounds AS (
  SELECT min(orig) AS mno, max(orig) AS mxo, min(rq) AS mnr, max(rq) AS mxr FROM cand
)
SELECT doc_id,
       round(0.3 * (CASE WHEN mxo > mno THEN (orig - mno) / (mxo - mno) ELSE 0.5 END)
           + 0.7 * (CASE WHEN mxr > mnr THEN (rq - mnr) / (mxr - mnr) ELSE 0.5 END), 6)
         AS final_score
FROM cand, bounds
ORDER BY final_score DESC, doc_id ASC LIMIT 10
"""


SQL_RERANK_BLEND = _sql_rerank_blend()


BATCH_QUERIES = [
    (0, "merge join filter"),
    (1, "vector scan table"),
    (2, "stream window batch"),
]


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 at batch scale (M14's loop collapsed): three queries scored in ONE
    postings-join plan — per-query top-10 with rank."""
    from vectordb_bioinsight_spark.operators.bm25 import bm25_batch

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(BATCH_QUERIES, ["query_id", "query_text"])
    return bm25_batch(docs, "doc_id", "text", queries, k=10)


def _sql_bm25_batch() -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in BATCH_QUERIES)
    return f"""
WITH queries(query_id, qtext) AS (VALUES {vals}),
qt AS (
  SELECT query_id, tok AS term, count(*)::DOUBLE AS qtf
  FROM (SELECT query_id, unnest({tokenize_duckdb("qtext")}) AS tok FROM queries)
  GROUP BY 1, 2
), toks AS (
  SELECT doc_id, {_TOK3} AS tk FROM documents
), postings AS (
  SELECT doc_id, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2
), ds AS (
  SELECT doc_id, length(tk) AS dl FROM toks
), corpus AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM ds WHERE dl > 0
), tdf AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM postings WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1
), scored AS (
  SELECT q.query_id, p.doc_id,
         round(sum(q.qtf
           * ln((c.n_docs - t.df + 0.5) / (t.df + 0.5) + 1.0)
           * (p.tf * 2.5) / (p.tf + 1.5 * (1.0 - 0.75 + 0.75 * d.dl / c.avgdl))), 6) AS score
  FROM postings p JOIN qt q USING (term) JOIN tdf t USING (term)
       JOIN ds d USING (doc_id), corpus c
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM scored
) WHERE rank <= 10
"""


SQL_BM25_BATCH = _sql_bm25_batch()


def q_recommend_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V9 multi-factor recommendation (recommender.py:410-500): 0.4*similarity
    + 0.3*freshness + 0.3*impact. Similarity = cosine to the vec_id=0 doc;
    freshness = length-bucket ladder (the year-age ladder analog on this
    schema); impact = source-tier buckets (citation-count analog). Top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = _query_vector(spark, sf_dir)
    sim = knn_brute_force(emb, "vec_id", "embedding", qv, k=100, metric="cosine").withColumnRenamed(
        "vec_id", "doc_id"
    )
    joined = sim.join(docs.select("doc_id", "n_chars", "source"), "doc_id")
    freshness = (
        F.when(F.col("n_chars") >= 400, 1.0)
        .when(F.col("n_chars") >= 250, 0.7)
        .when(F.col("n_chars") >= 150, 0.4)
        .otherwise(0.1)
    )
    impact = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 1.0)
        .when(F.col("source").isin("src4", "src5", "src6", "src7"), 0.6)
        .otherwise(0.3)
    )
    rec = F.round(0.4 * F.col("score") + 0.3 * freshness + 0.3 * impact, 6)
    return (
        joined.select("doc_id", rec.alias("rec_score"))
        .orderBy(F.desc("rec_score"), F.asc("doc_id"))
        .limit(10)
    )


SQL_RECOMMEND_DOCS = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
sums AS (
  SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
  FROM (
    SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
    FROM embeddings e, q
  ) GROUP BY 1
), sim AS (
  SELECT vec_id AS doc_id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS score
  FROM sums ORDER BY score DESC, doc_id ASC LIMIT 100
)
SELECT doc_id,
       round(0.4 * score
           + 0.3 * (CASE WHEN n_chars >= 400 THEN 1.0 WHEN n_chars >= 250 THEN 0.7
                         WHEN n_chars >= 150 THEN 0.4 ELSE 0.1 END)
           + 0.3 * (CASE WHEN source IN ('src0','src1','src2','src3') THEN 1.0
                         WHEN source IN ('src4','src5','src6','src7') THEN 0.6
                         ELSE 0.3 END), 6) AS rec_score
FROM sim JOIN documents USING (doc_id)
ORDER BY rec_score DESC, doc_id ASC LIMIT 10
"""


def q_rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14/§3.3 RAG context assembly: per query, BM25 top-3 docs formatted as
    the enumerated source block handed to the LLM (rag_pipeline.py:141-159
    ``[1] <text>\\n\\n[2] <text>`` layout). The formatting is pure column
    expressions — sort_array over collect_list(struct(rank, text)) keeps the
    citation order deterministic without a window re-sort; the LLM call
    itself is the driver-side stage out of engine scope (SURVEY §3.3)."""
    from vectordb_bioinsight_spark.operators.bm25 import bm25_batch

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(BATCH_QUERIES, ["query_id", "query_text"])
    hits = bm25_batch(docs, "doc_id", "text", queries, k=3)
    joined = hits.join(docs.select("doc_id", "text"), "doc_id")
    block = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "text"))),
            lambda s: F.concat(F.lit("["), s["rank"].cast("string"), F.lit("] "), s["text"]),
        ),
        "\n\n",
    )
    return joined.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_sources"),
        block.alias("context"),
    )


def _sql_rag_context() -> str:
    batch = _sql_bm25_batch().replace("rank <= 10", "rank <= 3")
    return f"""
WITH hits AS ({batch})
SELECT query_id, count(*)::BIGINT AS n_sources,
       string_agg('[' || rank || '] ' || text, chr(10) || chr(10) ORDER BY rank) AS context
FROM hits JOIN documents USING (doc_id)
GROUP BY 1
"""


SQL_RAG_CONTEXT = _sql_rag_context()


def q_label_map_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V10 (rows-only): the similar-paper 2D map — per-label mean embeddings
    projected to normalized 2D coordinates (vector_store.py:624-652; PCA-2
    for determinism in place of t-SNE; z-normalization matches). The SVD has
    no SQL twin, so the driver records the rows/schema check; geometry is
    pinned by tests/test_operators.py fixtures."""
    from vectordb_bioinsight_spark.operators.vector import project_2d

    emb = load_table(spark, sf_dir, "embeddings")
    cent_long = array_mean_long(emb, ["label"], "embedding")
    centroids = (
        cent_long.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "avg_val"))).alias("_s"))
        .select(
            "label", F.transform("_s", lambda s: s.getField("avg_val")).alias("centroid")
        )
    )
    return project_2d(centroids, "label", "centroid").withColumnRenamed("id", "label")


from vectordb_bioinsight_spark.operators.semdedup import MIN_CLUSTERS as SEMDEDUP_CLUSTERS  # noqa: E402 — single source for the router pivot + oracle LIMIT (ADVICE r08)

SEMDEDUP_MIN_COS = 0.35


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup analog, arXiv:2303.09540): fixed-centroid
    cluster assignment + within-cluster cosine prune, min-id survivor.
    Extends the reference's cosine near-dup (vector_store.py:603-606) to a
    corpus-pruning decision. Output: every vector's cluster, its cosine to
    the centroid, and whether it survives."""
    from vectordb_bioinsight_spark.operators.semdedup import semdedup_flags

    emb = load_table(spark, sf_dir, "embeddings")
    out = semdedup_flags(
        emb, "vec_id", "embedding",
        n_clusters=SEMDEDUP_CLUSTERS, min_cosine=SEMDEDUP_MIN_COS,
    )
    return out.select("vec_id", "cluster_id", "centroid_cos", "keep")


#: Shared CTE prefix for the two semdedup entries: fixed smallest-id
#: centroids -> cosine argmax assignment -> within-cluster smaller-id
#: loser detection (operators/semdedup.py::semdedup_flags).
_SEMDEDUP_CTES = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {SEMDEDUP_CLUSTERS}
), cscored AS (
  SELECT vec_id, cent_id,
         coalesce(round(sum(x*y) / nullif(sqrt(sum(x*x)) * sqrt(sum(y*y)), 0), 6), -2.0) AS cos
  FROM (
    SELECT e.vec_id, c.cent_id,
           unnest(e.embedding)::DOUBLE AS x, unnest(c.cvec)::DOUBLE AS y
    FROM embeddings e CROSS JOIN cents c
  ) GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cluster_id, centroid_cos FROM (
    SELECT vec_id, cent_id AS cluster_id, cos AS centroid_cos,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM cscored
  ) WHERE rn = 1
), pr AS (
  SELECT e1.vec_id AS id1, e2.vec_id AS id2, e1.embedding AS ea, e2.embedding AS eb
  FROM assigned a1 JOIN assigned a2
    ON a1.cluster_id = a2.cluster_id AND a1.vec_id < a2.vec_id
  JOIN embeddings e1 ON e1.vec_id = a1.vec_id
  JOIN embeddings e2 ON e2.vec_id = a2.vec_id
), psums AS (
  SELECT id1, id2, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM (SELECT id1, id2, unnest(ea)::DOUBLE AS x, unnest(eb)::DOUBLE AS y FROM pr)
  GROUP BY 1, 2
), losers AS (
  SELECT DISTINCT id2 AS vec_id FROM psums
  WHERE round(dot / nullif(sqrt(nx) * sqrt(ny), 0), 6) >= {SEMDEDUP_MIN_COS}
)"""

SQL_SEMDEDUP = (
    _SEMDEDUP_CTES
    + """
SELECT a.vec_id, a.cluster_id, a.centroid_cos, (l.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN losers l USING (vec_id)
"""
)


def q_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT semdedup route through the scale-aware router
    (operators/semdedup.py::semdedup_survivors): k = ceil(N/1024) clamped
    to >= 8; where the clamp binds (N <= 8192 — every test SF) the router
    picks the fixed smallest-id-centroid clustering at 8 cells (the
    KMeans fit dominates one-shot cost and the clamp forces the same k,
    so learning buys nothing), and at scale the learned codebook keeps
    candidate pairs LINEAR in N. Hash-oracled since r08 by PINNING that
    routing decision: the twin replays the routed (fixed) path, so a
    routing regression — e.g. the KMeans path leaking into small corpora
    — breaks the hash (VERDICT r07 task 3)."""
    from vectordb_bioinsight_spark.operators.semdedup import semdedup_survivors

    emb = load_table(spark, sf_dir, "embeddings")
    surv = semdedup_survivors(emb, "vec_id", "embedding", min_cosine=SEMDEDUP_MIN_COS)
    return surv.select("vec_id")


SQL_SEMDEDUP_AUTO = (
    _SEMDEDUP_CTES
    + """
SELECT e.vec_id FROM embeddings e LEFT JOIN losers l USING (vec_id)
WHERE l.vec_id IS NULL
"""
)


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit: recall@10 of a probe-limited IVF search (16
    cells, 4 probes) vs exact brute force for a 16-query batch — the
    tuning loop a user runs before trusting an approximate index.

    Hash-oracled since r08 (VERDICT r07 task 3) by running the audit over
    the FROZEN-centroid index (corpus vectors 100-115 as the 16 cells —
    the maxsim_ivf_docs discipline): assignment, probe routing, the
    in-cell search AND the recall join all replay in the DuckDB twin, so
    the driver hash-checks the whole recall pipeline including a genuine
    recall < 1 outcome. The learned-KMeans index (knn_ivf) stays the
    engine default; its recall path is pinned by tests/test_operators."""
    from vectordb_bioinsight_spark.operators.vector import (
        ann_recall_at_k,
        ivf_search_replay,
        knn_join,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    cent = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        (F.col("vec_id") - 100).cast("int").alias("_cell"),
        F.col("embedding").cast("array<double>").alias("_centroid"),
    )
    exact = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=10)
    approx = ivf_search_replay(
        emb, queries, "vec_id", "vec_id", "embedding", cent, k=10, n_probe=4
    )
    return ann_recall_at_k(exact, approx, k=10)


SQL_IVF_RECALL = """
WITH c AS (
  SELECT (vec_id - 100)::INT AS cell, embedding AS cv FROM embeddings
  WHERE vec_id >= 100 AND vec_id < 116
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 16
), vd AS (
  SELECT e.vec_id, c.cell,
         unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
  FROM embeddings e, c
), vdist AS (
  SELECT vec_id, cell, round(sqrt(sum((x - y) * (x - y))), 6) AS d
  FROM vd GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
    FROM vdist
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, cell FROM (
    SELECT v.vec_id AS query_id, v.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY v.d ASC, v.cell ASC) AS rn
    FROM vdist v JOIN q ON q.query_id = v.vec_id
  ) WHERE rn <= 4
), appairs AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probes p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.query_id
), apsums AS (
  SELECT query_id, cand_id,
         round(sum(x * y) / nullif(sqrt(sum(x * x)) * sqrt(sum(y * y)), 0), 6) AS score
  FROM (
    SELECT ap.query_id, ap.cand_id,
           unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
    FROM appairs ap
    JOIN embeddings e ON e.vec_id = ap.cand_id
    JOIN q USING (query_id)
  ) GROUP BY 1, 2
), ap AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, cand_id ASC) AS rnk
    FROM apsums
  ) WHERE rnk <= 10
), exsums AS (
  SELECT query_id, cand_id,
         round(sum(x * y) / nullif(sqrt(sum(x * x)) * sqrt(sum(y * y)), 0), 6) AS score
  FROM (
    SELECT q.query_id, e.vec_id AS cand_id,
           unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
    FROM embeddings e, q WHERE e.vec_id <> q.query_id
  ) GROUP BY 1, 2
), ex AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, cand_id ASC) AS rnk
    FROM exsums
  ) WHERE rnk <= 10
)
SELECT ex.query_id, count(*)::BIGINT AS n_exact,
       sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       round(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 4) AS recall
FROM ex LEFT JOIN ap USING (query_id, cand_id)
GROUP BY 1
"""


NDCG_QUERIES = 8
NDCG_K = 10


def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality audit with a full SQL twin: nDCG@10 / MRR / P@10 of
    exact cosine kNN for 8 query vectors, relevance = shared label (the
    standard label-match protocol when no human judgments exist)."""
    from vectordb_bioinsight_spark.operators.fusion import retrieval_metrics
    from vectordb_bioinsight_spark.operators.vector import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < NDCG_QUERIES)
    results = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=NDCG_K)
    relevance = (
        queries.alias("a")
        .join(emb.alias("b"), F.col("a.label") == F.col("b.label"))
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("cand_id"),
            F.lit(1.0).alias("rel"),
        )
    )
    return retrieval_metrics(results, relevance, k=NDCG_K)


SQL_RETRIEVAL_NDCG = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {NDCG_QUERIES}
), p AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
), sums AS (
  SELECT query_id, cand_id, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM p GROUP BY 1, 2
), ranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(dot / nullif(sqrt(nx) * sqrt(ny), 0), 6) DESC, cand_id ASC
         ) AS rank
  FROM sums
), res AS (
  SELECT query_id, cand_id, rank FROM ranked WHERE rank <= {NDCG_K}
), rel AS (
  SELECT a.vec_id AS query_id, b.vec_id AS cand_id, 1.0 AS rel
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id != b.vec_id
  WHERE a.vec_id < {NDCG_QUERIES}
), hits AS (
  SELECT r.query_id, r.rank, rel.rel
  FROM res r LEFT JOIN rel ON r.query_id = rel.query_id AND r.cand_id = rel.cand_id
), perq AS (
  SELECT query_id,
         sum(coalesce(rel, 0) / log2(rank + 1)) AS dcg,
         max(CASE WHEN rel IS NOT NULL THEN 1.0 / rank ELSE 0.0 END) AS mrr,
         sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END) / {NDCG_K}.0 AS prec
  FROM hits GROUP BY 1
), ideal AS (
  SELECT query_id, sum(rel / log2(r + 1)) AS idcg
  FROM (
    SELECT query_id, rel, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id ASC) AS r
    FROM rel
  ) WHERE r <= {NDCG_K}
  GROUP BY 1
), nrel AS (
  SELECT query_id, count(*)::BIGINT AS n_rel FROM rel GROUP BY 1
)
SELECT p.query_id, coalesce(n.n_rel, 0) AS n_rel,
       round(coalesce(p.dcg, 0.0), 6) AS dcg,
       round(coalesce(i.idcg, 0.0), 6) AS idcg,
       round(CASE WHEN coalesce(i.idcg, 0.0) > 0 THEN p.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg,
       round(coalesce(p.mrr, 0.0), 6) AS mrr,
       round(coalesce(p.prec, 0.0), 6) AS precision_k
FROM perq p LEFT JOIN ideal i USING (query_id) LEFT JOIN nrel n USING (query_id)
"""


# ---------------------------------------------------------------------------
# pq_adc_knn — product-quantization ADC search (operators/pq.py)
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces (64-dim embeddings -> 16-dim subvectors)
_PQ_K = 16       # codes per subspace
_PQ_SUB = 16     # sub_d = 64 / _PQ_M


def q_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-10 (Jégou et al. 2011; FAISS IVF-PQ's compression half):
    encode the corpus to 4 codes/vector against the deterministic fixed
    codebook, then rank by LUT-summed asymmetric L2² to the vec_id=0
    query. The search scan reads ONLY the code column — the 100 TB memory
    path. Learned-codebook quality twin pinned by recall tests."""
    from vectordb_bioinsight_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_fixed_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_fixed_codebook(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K)
    codes = pq_encode(emb, "vec_id", "embedding", cb)
    qv = _query_vector(spark, sf_dir)
    return pq_adc_topk(codes, "vec_id", "pq_code", cb, qv, k_top=10)


SQL_PQ_ADC_KNN = f"""
WITH ranked AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
), cb AS (
  SELECT s.i AS sub, r.code,
         r.embedding[s.i*{_PQ_SUB}+1 : (s.i+1)*{_PQ_SUB}] AS cent
  FROM ranked r CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS i) s
), ep AS (
  SELECT e.vec_id, cb.sub, cb.code,
         unnest(e.embedding[cb.sub*{_PQ_SUB}+1 : (cb.sub+1)*{_PQ_SUB}])::DOUBLE AS x,
         unnest(cb.cent)::DOUBLE AS y
  FROM embeddings e CROSS JOIN cb
), ed AS (
  SELECT vec_id, sub, code, round(sum((x - y) * (x - y)), 6) AS d2
  FROM ep GROUP BY 1, 2, 3
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
    FROM ed
  ) WHERE rn = 1
), qp AS (
  SELECT cb.sub, cb.code,
         unnest(q.qv[cb.sub*{_PQ_SUB}+1 : (cb.sub+1)*{_PQ_SUB}])::DOUBLE AS x,
         unnest(cb.cent)::DOUBLE AS y
  FROM cb, (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
), lut AS (
  SELECT sub, code, round(sum((x - y) * (x - y)), 6) AS qd2
  FROM qp GROUP BY 1, 2
), score AS (
  SELECT e.vec_id, round(sum(l.qd2), 6) AS adc_dist
  FROM enc e JOIN lut l USING (sub, code)
  GROUP BY 1
)
SELECT vec_id, adc_dist FROM score ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# mmr_diversify — Maximal Marginal Relevance reranking (operators/fusion.py)
# ---------------------------------------------------------------------------

_MMR_QUERIES = (0, 1, 2)
_MMR_POOL = 20
_MMR_LAM = 0.7
_MMR_K = 4


def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (Carbonell & Goldstein 1998) over the cosine
    top-20 pool of three query vectors: greedy k=4, lambda=0.7. Routed
    through the grouped path — ONE shuffle on query_id, the greedy runs
    vectorized per Arrow group (MMR is sequential in k, parallel in
    queries; the plan-unrolled JVM twin is equivalence-pinned and feeds
    the same oracle). Extends the reference's rerank stage
    (reranker.py blend) with the diversity objective."""
    from vectordb_bioinsight_spark.operators.fusion import (
        mmr_select_grouped,
        pairwise_candidate_sims,
    )
    from vectordb_bioinsight_spark.operators.vector import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_MMR_QUERIES))
    cands = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=_MMR_POOL)
    with_vecs = cands.join(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("vec")),
        "cand_id",
    )
    sims = pairwise_candidate_sims(with_vecs, "query_id", "cand_id", "vec")
    return mmr_select_grouped(
        cands.withColumnRenamed("score", "rel"),
        sims,
        "query_id",
        "cand_id",
        "rel",
        lam=_MMR_LAM,
        k=_MMR_K,
    )


def _sql_mmr_diversify() -> str:
    lam = _MMR_LAM
    ids = ", ".join(str(i) for i in _MMR_QUERIES)
    head = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN ({ids})
), qp AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
), qs AS (
  SELECT query_id, cand_id, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM qp GROUP BY 1, 2
), c AS (
  SELECT query_id, cand_id, rel FROM (
    SELECT query_id, cand_id,
           round(dot / nullif(sqrt(nx) * sqrt(ny), 0), 6) AS rel,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(dot / nullif(sqrt(nx) * sqrt(ny), 0), 6) DESC, cand_id ASC
           ) AS rn
    FROM qs
  ) WHERE rn <= {_MMR_POOL}
), sp AS (
  SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
         unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
  FROM c a
  JOIN c b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
  JOIN embeddings ea ON ea.vec_id = a.cand_id
  JOIN embeddings eb ON eb.vec_id = b.cand_id
), sym AS (
  SELECT query_id, id_a, id_b,
         round(sum(x*y) / nullif(sqrt(sum(x*x)) * sqrt(sum(y*y)), 0), 6) AS sim
  FROM sp GROUP BY 1, 2, 3
), s1 AS (
  SELECT query_id, cand_id, 1 AS pick_rank, mmr_score FROM (
    SELECT query_id, cand_id, round({lam} * rel, 7) AS mmr_score,
           row_number() OVER (
             PARTITION BY query_id ORDER BY round({lam} * rel, 7) DESC, cand_id ASC
           ) AS rn
    FROM c
  ) WHERE rn = 1
), sel1 AS (SELECT * FROM s1)"""
    steps = []
    for i in range(2, _MMR_K + 1):
        p = i - 1
        steps.append(f""",
r{i} AS (
  SELECT c.* FROM c
  WHERE NOT EXISTS (
    SELECT 1 FROM sel{p} s WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id
  )
), m{i} AS (
  SELECT r.query_id, r.cand_id, r.rel, max(y.sim) AS maxsim
  FROM r{i} r
  JOIN sym y ON y.query_id = r.query_id AND y.id_b = r.cand_id
  JOIN sel{p} s ON s.query_id = y.query_id AND s.cand_id = y.id_a
  GROUP BY 1, 2, 3
), s{i} AS (
  SELECT query_id, cand_id, {i} AS pick_rank, mmr_score FROM (
    SELECT query_id, cand_id,
           round({lam} * rel - (1.0 - {lam}) * maxsim, 7) AS mmr_score,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY round({lam} * rel - (1.0 - {lam}) * maxsim, 7) DESC, cand_id ASC
           ) AS rn
    FROM m{i}
  ) WHERE rn = 1
), sel{i} AS (SELECT * FROM sel{p} UNION ALL SELECT * FROM s{i})""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT query_id, cand_id, pick_rank, mmr_score FROM sel{_MMR_K}\n"
    )


SQL_MMR_DIVERSIFY = _sql_mmr_diversify()


# ---------------------------------------------------------------------------
# ivfpq_knn — full IVF-PQ composition (operators/pq.ivfpq_topk)
# ---------------------------------------------------------------------------

_IVFPQ_CELLS = 8
_IVFPQ_PROBE = 2


def q_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 (FAISS's billion-scale layout): fixed-centroid coarse
    routing -> probe the 2 nearest of 8 cells -> PQ-ADC scoring inside
    probed cells only. Scan touches ~n_probe/n_cells of the corpus and
    reads only code columns; fully SQL-replayable end to end."""
    from vectordb_bioinsight_spark.operators.pq import ivfpq_topk, pq_fixed_codebook

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_fixed_codebook(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K)
    qv = _query_vector(spark, sf_dir)
    return ivfpq_topk(
        emb, "vec_id", "embedding", cb, qv,
        n_cells=_IVFPQ_CELLS, n_probe=_IVFPQ_PROBE, k_top=10,
    )


SQL_IVFPQ_KNN = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {_IVFPQ_CELLS}
), cscored AS (
  SELECT vec_id, cent_id,
         coalesce(round(sum(x*y) / nullif(sqrt(sum(x*x)) * sqrt(sum(y*y)), 0), 6), -2.0) AS cos
  FROM (
    SELECT e.vec_id, c.cent_id,
           unnest(e.embedding)::DOUBLE AS x, unnest(c.cvec)::DOUBLE AS y
    FROM embeddings e CROSS JOIN cents c
  ) GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cent_id AS cluster_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM cscored
  ) WHERE rn = 1
), q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), qscored AS (
  SELECT cent_id,
         coalesce(round(sum(x*y) / nullif(sqrt(sum(x*x)) * sqrt(sum(y*y)), 0), 6), -2.0) AS qcos
  FROM (
    SELECT c.cent_id, unnest(q.qv)::DOUBLE AS x, unnest(c.cvec)::DOUBLE AS y
    FROM cents c, q
  ) GROUP BY 1
), probe AS (
  SELECT cent_id FROM (
    SELECT cent_id, row_number() OVER (ORDER BY qcos DESC, cent_id ASC) AS rn
    FROM qscored
  ) WHERE rn <= {_IVFPQ_PROBE}
), mem AS (
  SELECT vec_id FROM assigned WHERE cluster_id IN (SELECT cent_id FROM probe)
), ranked AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
), cb AS (
  SELECT s.i AS sub, r.code,
         r.embedding[s.i*{_PQ_SUB}+1 : (s.i+1)*{_PQ_SUB}] AS cent
  FROM ranked r CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS i) s
), ep AS (
  SELECT e.vec_id, cb.sub, cb.code,
         unnest(e.embedding[cb.sub*{_PQ_SUB}+1 : (cb.sub+1)*{_PQ_SUB}])::DOUBLE AS x,
         unnest(cb.cent)::DOUBLE AS y
  FROM embeddings e JOIN mem USING (vec_id) CROSS JOIN cb
), ed AS (
  SELECT vec_id, sub, code, round(sum((x - y) * (x - y)), 6) AS d2
  FROM ep GROUP BY 1, 2, 3
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
    FROM ed
  ) WHERE rn = 1
), qp AS (
  SELECT cb.sub, cb.code,
         unnest(q.qv[cb.sub*{_PQ_SUB}+1 : (cb.sub+1)*{_PQ_SUB}])::DOUBLE AS x,
         unnest(cb.cent)::DOUBLE AS y
  FROM cb, q
), lut AS (
  SELECT sub, code, round(sum((x - y) * (x - y)), 6) AS qd2
  FROM qp GROUP BY 1, 2
), score AS (
  SELECT e.vec_id, round(sum(l.qd2), 6) AS adc_dist
  FROM enc e JOIN lut l USING (sub, code)
  GROUP BY 1
)
SELECT vec_id, adc_dist FROM score ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# hard_negatives — contrastive-training negative mining (operators/vector.py)
# ---------------------------------------------------------------------------

_HN_QUERIES = (0, 1, 2)
_HN_POOL = 20
_HN_K = 5


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (DPR/E5 recipe): per query, the top-5 cosine
    candidates whose label does NOT match the query's — the near-boundary
    negatives a contrastive embedding trainer needs."""
    from vectordb_bioinsight_spark.operators.vector import (
        hard_negative_mining,
        knn_join,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_HN_QUERIES))
    cands = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=_HN_POOL)
    pos = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("_ql"))
        .join(
            emb.select(F.col("vec_id").alias("cand_id"), F.col("label")),
            F.col("_ql") == F.col("label"),
        )
        .select("query_id", "cand_id")
    )
    return hard_negative_mining(
        cands.select("query_id", "cand_id", "score"), pos, k_neg=_HN_K
    )


SQL_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS ql
  FROM embeddings WHERE vec_id IN {_HN_QUERIES}
), pairs AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), sums AS (
  SELECT query_id, cand_id, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM pairs GROUP BY 1, 2
), scored AS (
  SELECT query_id, cand_id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS score
  FROM sums
), pool AS (
  SELECT query_id, cand_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {_HN_POOL}
), neg AS (
  SELECT p.query_id, p.cand_id, p.score
  FROM pool p
  JOIN q ON q.query_id = p.query_id
  JOIN embeddings e ON e.vec_id = p.cand_id
  WHERE e.label <> q.ql
)
SELECT query_id, cand_id, score, neg_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS neg_rank
  FROM neg
) WHERE neg_rank <= {_HN_K}
"""


# ---------------------------------------------------------------------------
# contrastive_triplets — (query, pos, neg) export for embedding training
# ---------------------------------------------------------------------------


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet export (operators/vector.py:contrastive_triplets): the
    hard_negatives setup crossed with same-label positives (self
    excluded); margin = pos_score - neg_score, NULL when the positive sat
    outside the retrieval pool."""
    from vectordb_bioinsight_spark.operators.vector import (
        contrastive_triplets,
        knn_join,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_HN_QUERIES))
    cands = knn_join(queries, emb, "vec_id", "vec_id", "embedding", k=_HN_POOL)
    pos = (
        queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("_ql"))
        .join(
            emb.select(F.col("vec_id").alias("cand_id"), F.col("label")),
            F.col("_ql") == F.col("label"),
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
    )
    return contrastive_triplets(
        cands.select("query_id", "cand_id", "score"), pos, k_neg=_HN_K
    )


SQL_CONTRASTIVE_TRIPLETS = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS ql
  FROM embeddings WHERE vec_id IN {_HN_QUERIES}
), pairs AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), sums AS (
  SELECT query_id, cand_id, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
  FROM pairs GROUP BY 1, 2
), scored AS (
  SELECT query_id, cand_id, round(dot / (sqrt(nx) * sqrt(ny)), 6) AS score
  FROM sums
), pool AS (
  SELECT query_id, cand_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {_HN_POOL}
), negs AS (
  SELECT query_id, cand_id AS neg_id, score AS neg_score, neg_rank FROM (
    SELECT p.query_id, p.cand_id, p.score,
           row_number() OVER (PARTITION BY p.query_id ORDER BY p.score DESC, p.cand_id ASC) AS neg_rank
    FROM pool p
    JOIN q ON q.query_id = p.query_id
    JOIN embeddings e ON e.vec_id = p.cand_id
    WHERE e.label <> q.ql
  ) WHERE neg_rank <= {_HN_K}
), pos AS (
  SELECT q.query_id, e.vec_id AS pos_id, p.score AS pos_score
  FROM q
  JOIN embeddings e ON e.label = q.ql AND e.vec_id <> q.query_id
  LEFT JOIN pool p ON p.query_id = q.query_id AND p.cand_id = e.vec_id
)
SELECT pos.query_id, pos.pos_id, negs.neg_id, negs.neg_rank,
       round(pos.pos_score - negs.neg_score, 6) AS margin
FROM pos JOIN negs ON negs.query_id = pos.query_id
"""


def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tier data card: per-dimension mean/std/range of the
    embeddings table (operators/vector.py::embedding_dim_profile) — the
    dead-dimension / centering diagnostic run before quantizer training."""
    from vectordb_bioinsight_spark.operators.vector import embedding_dim_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dim_profile(emb, "embedding")


SQL_EMBEDDING_DIM_PROFILE = """
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding)::DOUBLE AS x
  FROM embeddings
)
SELECT dim, round(avg(x), 6) AS mean, round(stddev_samp(x), 6) AS std,
       round(min(x), 6) AS lo, round(max(x), 6) AS hi
FROM ex GROUP BY dim
"""


def q_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization of the embeddings table
    (operators/pq.py::sq8_quantize): per-dim data ranges, int8 codes,
    per-vector reconstruction MSE — the 4x memory layout below PQ, with
    the codes themselves hash-checked. The operator returns
    ``codes array<int>``; the catalog entry flattens it to a dim-ordered
    CSV string so the driver's scalar-only canonicalizer can sort/hash
    the rows (same convention as keyword_and_match)."""
    from vectordb_bioinsight_spark.operators.pq import sq8_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_quantize(emb, "vec_id", "embedding").select(
        "id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes_csv"
        ),
        "mse",
    )


SQL_SQ8_CODES = """
WITH ex AS (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), ranges AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1
), coded AS (
  SELECT e.id, e.dim, e.x,
         coalesce(round((e.x - r.lo) / nullif(r.hi - r.lo, 0) * 255.0, 0), 0)::INT AS code,
         r.lo, r.hi
  FROM ex e JOIN ranges r USING (dim)
)
SELECT id,
       string_agg(code::VARCHAR, ',' ORDER BY dim) AS codes_csv,
       round(avg(pow(x - (lo + code / 255.0 * (hi - lo)), 2)), 8) AS mse
FROM coded GROUP BY id
"""


def q_sq8_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of vector 0 over SQ8 codes only (operators/pq.py::
    sq8_adc_topk): the corpus side never touches raw floats after
    encoding — dequantize against the broadcast ranges, L2 to the raw
    query, TakeOrderedAndProject."""
    from vectordb_bioinsight_spark.operators.pq import (
        sq8_adc_topk,
        sq8_quantize,
        sq8_ranges,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codes = sq8_quantize(emb, "vec_id", "embedding").select(
        F.col("id"), "codes"
    )
    ranges = sq8_ranges(emb, "embedding")
    # 1-based (dim, qx) long form of vector 0 — derived from data so the
    # oracle replays it
    query = emb.filter(F.col("vec_id") == 0).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "qx")
    ).select((F.col("dim0") + 1).alias("dim"), "qx")
    return sq8_adc_topk(codes, ranges, query, k=10)


SQL_SQ8_ADC_KNN = """
WITH ex AS (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), ranges AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1
), coded AS (
  SELECT e.id, e.dim,
         coalesce(round((e.x - r.lo) / nullif(r.hi - r.lo, 0) * 255.0, 0), 0)::INT AS code
  FROM ex e JOIN ranges r USING (dim)
), q AS (
  SELECT dim, x AS qx FROM ex WHERE id = 0
), scored AS (
  SELECT c.id,
         round(sum(pow(q.qx - (r.lo + c.code / 255.0 * (r.hi - r.lo)), 2)), 6) AS dist
  FROM coded c JOIN ranges r USING (dim) JOIN q USING (dim)
  GROUP BY 1
)
SELECT id, dist, rank FROM (
  SELECT *, row_number() OVER (ORDER BY dist ASC, id ASC) AS rank FROM scored
) WHERE rank <= 10
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event values per type — Spark's percentile()
    and DuckDB's quantile_cont share the type-7 interpolation, so exact
    latency-style summaries hash cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        F.count("*").cast("long").alias("n"),
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*)::BIGINT AS n
FROM events GROUP BY 1
"""


def q_maxsim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval
    (operators/vector.py::maxsim_topk): embeddings grouped 25-per-doc as
    multi-vector documents, query = doc 0's vectors, MaxSim top-10 —
    broadcast query side, doc-keyed shuffles only."""
    from vectordb_bioinsight_spark.operators.vector import maxsim_topk

    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.select(
        (F.col("vec_id") / 25).cast("long").alias("doc"), F.col("embedding")
    )
    query = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("qtok"), F.col("embedding")
    )
    return maxsim_topk(docs, query, "doc", "embedding", k=10)


SQL_MAXSIM_DOCS = """
WITH d AS (
  SELECT (vec_id // 25)::BIGINT AS doc, vec_id, embedding FROM embeddings
), q AS (
  SELECT vec_id AS qtok, embedding AS qv FROM embeddings WHERE vec_id < 25
), pairs AS (
  SELECT d.doc, d.vec_id, q.qtok,
         unnest(d.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM d, q
), cosines AS (
  SELECT doc, vec_id, qtok,
         round(sum(x * y) / nullif(sqrt(sum(x * x)) * sqrt(sum(y * y)), 0), 6) AS cos
  FROM pairs GROUP BY 1, 2, 3
), per_tok AS (
  SELECT doc, qtok, max(cos) AS mx FROM cosines GROUP BY 1, 2
), scored AS (
  SELECT doc, round(sum(mx), 6) AS score FROM per_tok GROUP BY 1
)
SELECT doc, score, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc ASC) AS rank FROM scored
) WHERE rank <= 10
"""


def q_binq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization of the embeddings table (operators/pq.py::
    binary_quantize): median-thresholded sign bits packed 32 per bigint
    word — the D/8-byte layout that closes the quantization ladder below
    PQ and SQ8, with the packed words themselves hash-checked plus the
    per-vector popcount balance diagnostic. The operator returns
    ``words array<bigint>``; the catalog entry flattens it to a
    word-ordered CSV string so the driver's scalar-only canonicalizer
    can sort/hash the rows (same convention as keyword_and_match)."""
    from vectordb_bioinsight_spark.operators.pq import binary_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return binary_quantize(emb, "vec_id", "embedding").select(
        "id",
        F.array_join(F.col("words").cast("array<string>"), ",").alias(
            "words_csv"
        ),
        "n_set",
    )


SQL_BINQ_CODES = """
WITH ex AS (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), med AS (
  SELECT dim, quantile_cont(x, 0.5) AS mu FROM ex GROUP BY 1
), bits AS (
  SELECT e.id, ((e.dim - 1) // 32)::INT AS word,
         CASE WHEN e.x > m.mu
              THEN 1::BIGINT << ((e.dim - 1) % 32)::INT
              ELSE 0::BIGINT END AS contrib
  FROM ex e JOIN med m USING (dim)
), words AS (
  SELECT id, word, bit_or(contrib) AS w FROM bits GROUP BY 1, 2
)
SELECT id, string_agg(w::VARCHAR, ',' ORDER BY word) AS words_csv,
       sum(bit_count(w))::BIGINT AS n_set
FROM words GROUP BY id
"""


def q_binq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary-quantized search for vector 0 (operators/pq.py::
    binq_search): Hamming top-40 shortlist over the packed sign-bit codes
    (the only corpus-wide scan — 16 bytes/row), exact cosine rerank of
    the survivors against the raw floats, top-10."""
    from vectordb_bioinsight_spark.operators.pq import (
        binary_quantize,
        binary_thresholds,
        binq_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    thresholds = binary_thresholds(emb, "embedding")
    codes = binary_quantize(emb, "vec_id", "embedding", thresholds).select(
        "id", "words"
    )
    # query words from the 1-row vec-0 encode (pushed-down filter +
    # the shared thresholds) — filtering the corpus codes table instead
    # would re-execute the full encode lineage a second time
    query_words = binary_quantize(
        emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", thresholds
    ).select(F.posexplode("words").alias("word", "qw"))
    query = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim0", "qx"
            )
        )
        .select((F.col("dim0") + 1).alias("dim"), "qx")
    )
    return binq_search(
        emb, "vec_id", "embedding", codes, query_words, query, k=10, shortlist=40
    )


SQL_BINQ_KNN = """
WITH ex AS (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), med AS (
  SELECT dim, quantile_cont(x, 0.5) AS mu FROM ex GROUP BY 1
), bits AS (
  SELECT e.id, ((e.dim - 1) // 32)::INT AS word,
         CASE WHEN e.x > m.mu
              THEN 1::BIGINT << ((e.dim - 1) % 32)::INT
              ELSE 0::BIGINT END AS contrib
  FROM ex e JOIN med m USING (dim)
), words AS (
  SELECT id, word, bit_or(contrib) AS w FROM bits GROUP BY 1, 2
), q AS (
  SELECT word, w AS qw FROM words WHERE id = 0
), ham AS (
  SELECT words.id, sum(bit_count(xor(words.w, q.qw)))::BIGINT AS hamming
  FROM words JOIN q USING (word) GROUP BY 1
), short AS (
  SELECT id, hamming FROM ham ORDER BY hamming ASC, id ASC LIMIT 40
), qv AS (
  SELECT dim, x AS qx FROM ex WHERE id = 0
), qn AS (
  SELECT sqrt(sum(qx * qx)) AS qn FROM qv
), scored AS (
  SELECT e.id, s.hamming,
         round(sum(e.x * q.qx) / sqrt(sum(e.x * e.x)) / (SELECT qn FROM qn), 6) AS cos
  FROM ex e JOIN short s USING (id) JOIN qv q USING (dim)
  GROUP BY 1, 2
)
SELECT id, hamming, cos, rank FROM (
  SELECT *, row_number() OVER (ORDER BY cos DESC, id ASC) AS rank FROM scored
) WHERE rank <= 10
"""


def q_whitened_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening audit (operators/vector.py::whiten_embeddings): per-
    dimension variance of the whitened corpus, hash-oracled against the
    identity-covariance CONTRACT itself — every dimension must land at
    var == 1.00 at 2 dp (the eps=1e-6 eigenvalue shrinkage and BLAS
    partial-sum order both perturb at <= 2e-4, an order of magnitude
    under the rounding; measured 0.9998-1.0000 at sf0.01). The DuckDB
    twin asserts the contract as literals; the exact-tolerance check
    stays in tests/test_ann_recall.py::TestWhitening."""
    from vectordb_bioinsight_spark.operators.vector import whiten_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    out = whiten_embeddings(emb, "vec_id", "embedding")
    ex = out.select(
        F.posexplode(F.col("vec")).alias("dim0", "x")
    ).select((F.col("dim0") + 1).alias("dim"), "x")
    return ex.groupBy("dim").agg(
        F.round(F.var_pop("x"), 2).alias("var_after"),
        F.count("*").cast("long").alias("n"),
    )


SQL_WHITENED_DIM_PROFILE = """
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) AS dim FROM embeddings
)
SELECT dim, 1.0::DOUBLE AS var_after, count(*)::BIGINT AS n
FROM ex GROUP BY dim
"""


def q_maxsim_ivf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed MaxSim (operators/vector.py::maxsim_ivf) with FROZEN
    centroids — corpus vectors 100-107 as the 8 cells (the
    pq_fixed_codebook discipline), so assignment, the 3-of-8 probe
    routing, the pruned doc union AND the exact MaxSim rescore all
    replay in the DuckDB twin and the pruning path itself is
    hash-checked (the KMeans default stays rows-only, recall-pinned by
    tests)."""
    from vectordb_bioinsight_spark.operators.vector import maxsim_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    docs = emb.select(
        (F.col("vec_id") / 25).cast("long").alias("doc"), "embedding"
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qtok"), "embedding"
    )
    cent = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108)).select(
        (F.col("vec_id") - 100).cast("int").alias("_cell"),
        F.col("embedding").cast("array<double>").alias("_centroid"),
    )
    return maxsim_ivf(
        docs, q, "doc", "embedding", n_cells=8, n_probe=3, k=10, centroids=cent
    )


SQL_MAXSIM_IVF_DOCS = """
WITH d AS (
  SELECT (vec_id // 25)::BIGINT AS doc, vec_id, embedding FROM embeddings
), c AS (
  SELECT (vec_id - 100)::INT AS cell, embedding AS cv FROM embeddings
  WHERE vec_id >= 100 AND vec_id < 108
), tokc AS (
  SELECT d.vec_id AS tok, d.doc, c.cell,
         unnest(d.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
  FROM d, c
), tokdist AS (
  SELECT tok, doc, cell, round(sqrt(sum((x - y) * (x - y))), 6) AS dist
  FROM tokc GROUP BY 1, 2, 3
), assigned AS (
  SELECT DISTINCT doc, cell FROM (
    SELECT doc, cell,
           row_number() OVER (PARTITION BY tok ORDER BY dist ASC, cell ASC) AS rn
    FROM tokdist
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS qtok, embedding AS qv FROM embeddings WHERE vec_id < 8
), qc AS (
  SELECT q.qtok, c.cell, unnest(q.qv)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
  FROM q, c
), qdist AS (
  SELECT qtok, cell, round(sqrt(sum((x - y) * (x - y))), 6) AS dist
  FROM qc GROUP BY 1, 2
), probed AS (
  SELECT DISTINCT cell FROM (
    SELECT cell,
           row_number() OVER (PARTITION BY qtok ORDER BY dist ASC, cell ASC) AS rn
    FROM qdist
  ) WHERE rn <= 3
), cand AS (
  SELECT DISTINCT a.doc FROM assigned a JOIN probed USING (cell)
), pairs AS (
  SELECT d.doc, d.vec_id, q.qtok,
         unnest(d.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM d JOIN cand USING (doc) CROSS JOIN q
), cosines AS (
  SELECT doc, vec_id, qtok,
         round(sum(x * y) / nullif(sqrt(sum(x * x)) * sqrt(sum(y * y)), 0), 6) AS cos
  FROM pairs GROUP BY 1, 2, 3
), per_tok AS (
  SELECT doc, qtok, max(cos) AS mx FROM cosines GROUP BY 1, 2
), scored AS (
  SELECT doc, round(sum(mx), 6) AS score FROM per_tok GROUP BY 1
)
SELECT doc, score, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc ASC) AS rank FROM scored
) WHERE rank <= 10
"""
