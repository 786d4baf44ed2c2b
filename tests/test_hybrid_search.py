"""Hybrid search path: knn_brute_force against numpy, rrf_fuse against a
pure-Python weighted RRF, the three BM25 entry points against each other,
and the cost of one hybrid query (no persisted tables left behind, a bounded
number of Spark jobs, a bounded number of py4j round trips to build it)."""

from __future__ import annotations

import math
import random
import threading

import numpy as np
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
from vectordb_bioinsight_spark.operators.vector import knn_brute_force, knn_join

#: three arms: overlapping and disjoint ids, tied scores inside an arm
ARMS = {
    "dense": [(1, 0.9), (2, 0.8), (3, 0.8), (4, 0.5), (9, 0.5)],
    "sparse": [(3, 7.0), (5, 7.0), (1, 2.5), (6, 1.0)],
    "graph": [(7, 0.3), (2, 0.3), (8, 0.2), (5, 0.1)],
}


def _knn_reference(rows, qv, metric):
    """{id: score rounded to 6 dp, None where Spark yields NULL}."""
    q = np.asarray(qv, dtype=np.float64)
    out = {}
    for doc_id, v in rows:
        if v is None:
            out[doc_id] = None
            continue
        a = np.asarray(v, dtype=np.float64)
        if metric == "cosine":
            den = float(np.linalg.norm(a)) * float(np.linalg.norm(q))
            out[doc_id] = None if den == 0.0 else round(float(a @ q) / den, 6)
        elif metric == "dot":
            out[doc_id] = round(float(a @ q), 6)
        else:
            out[doc_id] = round(float(np.linalg.norm(a - q)), 6)
    return out


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
@pytest.mark.parametrize("id_name", ["we`ird id", "meta.id"], ids=["backtick", "dotted"])
def test_knn_brute_force_matches_numpy(spark, metric, id_name):
    """Scores (6 dp) and order (score, then id) of all three metrics. Inputs
    hold a zero-norm row (cosine NULL), a NULL embedding, exact ties (same
    vector under two ids, the larger id first) and an id column that needs
    backtick quoting, or a struct field reached by a dotted name."""
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(1, 13)]
    rows += [(20, [0.0] * 8), (21, None), (31, rows[2][1]), (30, rows[2][1])]
    qv = [rng.uniform(-1, 1) for _ in range(8)]
    if id_name == "meta.id":
        docs = spark.createDataFrame(
            [((i,), v) for i, v in rows], "meta struct<id: long>, embedding array<double>"
        )
        out_id = "id"
    else:
        docs = spark.createDataFrame(rows, f"`{id_name.replace('`', '``')}` long, embedding array<double>")
        out_id = id_name
    got = knn_brute_force(docs, id_name, "embedding", qv, k=len(rows), metric=metric)
    assert got.columns == [out_id, "score"]
    got = [(r[out_id], r["score"]) for r in got.collect()]
    want = _knn_reference(rows, qv, metric)
    assert len(got) == len(want)
    for doc_id, score in got:
        if want[doc_id] is None:
            assert score is None, (doc_id, score)
        else:
            assert math.isclose(score, want[doc_id], abs_tol=1e-6), (doc_id, score, want[doc_id])
    # NULL scores (NULL embedding, zero-norm cosine) come last for every
    # metric: a row without a vector is never a nearest neighbour
    sign = 1.0 if metric == "l2" else -1.0
    nulls = sorted(i for i, s in got if s is None)
    ranked = sorted(((i, s) for i, s in got if s is not None), key=lambda r: (sign * r[1], r[0]))
    assert [i for i, _ in got] == [i for i, _ in ranked] + nulls
    assert dict(got)[30] == dict(got)[31]


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_knn_join_null_embeddings_rank_last(spark, metric):
    """knn_join ranks a candidate with a NULL embedding after every
    candidate with a vector, for every metric."""
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.9, 0.1]), (4, None)], "id long, embedding array<double>"
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0])], "id long, embedding array<double>")
    ranked = knn_join(queries, docs, "id", "id", "embedding", k=4, metric=metric)
    got = [(r["cand_id"], r["score"] is None) for r in ranked.orderBy("rank").collect()]
    assert got == [(1, False), (3, False), (2, True), (4, True)]


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


@pytest.mark.parametrize(
    "query", ["gene cancer", "gene gene", "cancer pathway gene gene", "gene gene gene cancer"]
)
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


#: py4j round trips to build one hybrid query (3 terms, 64-d query vector);
#: composing the expressions through the Column API took ~2,200
MAX_HYBRID_ROUND_TRIPS = 400


def _hybrid_corpus(spark, dim):
    rng = random.Random(7)
    words = ["gene", "cancer", "protein", "pathway", "tumor", "cell", "network", "signal"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(8)), [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
    return docs, [rng.uniform(-1, 1) for _ in range(dim)]


def test_hybrid_query_is_one_lazy_plan(spark):
    """No persisted table survives the query, and the query runs a bounded
    number of jobs (one lazy plan: no eager side-work per arm)."""
    docs, qv = _hybrid_corpus(spark, dim=8)
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


def test_hybrid_query_build_round_trips(spark):
    """Building one hybrid query (kNN + BM25 -> RRF -> top 10) stays within a
    py4j round-trip budget: each operator renders its expressions as SQL
    text and parses them once."""
    docs, qv = _hybrid_corpus(spark, dim=64)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        dense = knn_brute_force(docs, "doc_id", "embedding", qv, k=50, metric="cosine")
        sparse = bm25_topk(docs, "doc_id", "text", "cancer pathway signal", k=50)
        fused = rrf_fuse({"dense": dense, "sparse": sparse}, weights={"dense": 0.6, "sparse": 0.4})
        top = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10)
    finally:
        del client.send_command
    assert len(sent) <= MAX_HYBRID_ROUND_TRIPS, len(sent)
    assert len(top.collect()) == 10


#: py4j round trips to build one BM25 plan over the hybrid corpus (two
#: queries for the batch); scoring through the Column API took 322 (batch)
#: and 278 (scores)
MAX_BM25_ROUND_TRIPS = 230


@pytest.mark.parametrize("entry_point", ["bm25_batch", "bm25_scores"])
def test_bm25_build_round_trips(spark, entry_point):
    """Building a ``bm25_batch`` or ``bm25_scores`` plan (postings and
    document lengths included) stays within a py4j round-trip budget: the
    scorer is rendered as SQL text. Only this thread's commands count: py4j
    releases collected JVM objects from a worker thread at any time."""
    docs, _ = _hybrid_corpus(spark, dim=2)
    queries = spark.createDataFrame(
        [(0, "cancer pathway signal"), (1, "gene gene gene cancer")], "query_id long, query_text string"
    )
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    sent = []

    def counting(*args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        if entry_point == "bm25_batch":
            plan = bm25_batch(docs, "doc_id", "text", queries, k=10)
        else:
            postings, stats = build_postings(docs, "doc_id", "text"), doc_lengths(docs, "doc_id", "text")
            plan = bm25_scores(postings, stats, ["gene", "gene", "gene", "cancer"])
    finally:
        del client.send_command
    assert len(sent) <= MAX_BM25_ROUND_TRIPS, len(sent)
    assert plan.count() > 0
