"""Hybrid search path: rrf_fuse against a pure-Python weighted RRF, the three
BM25 entry points against each other, and the cost of one collected hybrid
query (no persisted tables left behind, a bounded number of Spark jobs)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.operators.bm25 import (
    bm25_batch,
    bm25_scores,
    bm25_topk,
    build_postings,
    doc_lengths,
)
from vectordb_bioinsight_spark.operators.fusion import rrf_fuse
from vectordb_bioinsight_spark.operators.vector import knn_brute_force

#: three arms: overlapping and disjoint ids, tied scores inside an arm
ARMS = {
    "dense": [(1, 0.9), (2, 0.8), (3, 0.8), (4, 0.5), (9, 0.5)],
    "sparse": [(3, 7.0), (5, 7.0), (1, 2.5), (6, 1.0)],
    "graph": [(7, 0.3), (2, 0.3), (8, 0.2), (5, 0.1)],
}


def _rrf_reference(arms, weights, rrf_k):
    raw: dict[int, float] = {}
    for name, rows in arms.items():
        ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
        for rank, (doc_id, _score) in enumerate(ranked):
            raw[doc_id] = raw.get(doc_id, 0.0) + weights[name] / (rrf_k + rank + 1)
    top = max(raw.values())
    return {d: round(v / top * 100.0, 6) for d, v in raw.items()}


@pytest.mark.parametrize(
    "weights, rrf_k",
    [(None, 60), ({"dense": 0.5, "sparse": 0.3, "graph": 0.2}, 10)],
    ids=["default_weights", "explicit_weights"],
)
def test_rrf_fuse_matches_python_reference(spark, weights, rrf_k):
    arms = {n: spark.createDataFrame(rows, "doc_id long, score double") for n, rows in ARMS.items()}
    kwargs = {} if weights is None else {"weights": weights}
    got = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse(arms, rrf_k=rrf_k, **kwargs).collect()}
    want = _rrf_reference(ARMS, weights or {n: 1.0 for n in ARMS}, rrf_k)
    assert got.keys() == want.keys()
    for doc_id, score in want.items():
        assert math.isclose(got[doc_id], score, abs_tol=1e-6), (doc_id, got[doc_id], score)


#: token-less documents (empty, NULL, all-short) must carry no corpus mass
BM25_DOCS = [
    (1, "gene expression in cancer cells"),
    (2, "gene gene regulation network"),
    (3, "tumor cancer cancer pathway analysis"),
    (4, ""),
    (5, None),
    (6, "protein folding and gene ontology terms"),
]


@pytest.mark.parametrize("query", ["gene cancer", "gene gene", "cancer pathway gene gene"])
def test_bm25_entry_points_agree(spark, query):
    docs = spark.createDataFrame(BM25_DOCS, "doc_id long, text string")
    topk = {r["doc_id"]: r["score"] for r in bm25_topk(docs, "doc_id", "text", query, k=10).collect()}
    queries = spark.createDataFrame([(0, query)], "query_id long, query_text string")
    batch = {r["doc_id"]: r["score"] for r in bm25_batch(docs, "doc_id", "text", queries, k=10).collect()}
    postings, stats = build_postings(docs, "doc_id", "text"), doc_lengths(docs, "doc_id", "text")
    scores = {r["doc_id"]: r["score"] for r in bm25_scores(postings, stats, query.split()).collect()}
    assert topk and topk == batch == scores


@pytest.mark.parametrize("query", ["the and", "", "a an to"])
def test_bm25_topk_without_scorable_terms_is_empty(spark, query):
    docs = spark.createDataFrame(BM25_DOCS, "doc_id long, text string")
    out = bm25_topk(docs, "doc_id", "text", query, k=5)
    assert out.columns == ["doc_id", "score"]
    assert dict(out.dtypes) == {"doc_id": "bigint", "score": "double"}
    assert out.collect() == []


#: Spark jobs of one collected hybrid query (dense kNN + BM25 -> RRF -> top-10)
MAX_HYBRID_JOBS = 4


def test_hybrid_query_is_one_lazy_plan(spark):
    """No persisted table survives the query, and the query runs a bounded
    number of jobs (one lazy plan: no eager side-work per arm)."""
    import random

    rng = random.Random(7)
    words = ["gene", "cancer", "protein", "pathway", "tumor", "cell", "network", "signal"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(8)), [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
    qv = [rng.uniform(-1, 1) for _ in range(8)]
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    group = "test-hybrid-one-plan"
    sc.setJobGroup(group, "one hybrid query")
    try:
        dense = knn_brute_force(docs, "doc_id", "embedding", qv, k=50, metric="cosine")
        sparse = bm25_topk(docs, "doc_id", "text", "cancer pathway signal", k=50)
        fused = rrf_fuse({"dense": dense, "sparse": sparse}, weights={"dense": 0.6, "sparse": 0.4})
        top = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(top) == 10
    assert sc._jsc.getPersistentRDDs().size() == persisted
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= MAX_HYBRID_JOBS, jobs
