"""Codegen cache: a warm session compiles no Java class for a query shape it
has already run. Compilations are counted with Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME`` (one sample per codegen-cache
miss; local mode runs driver and executors in one JVM, so it sees both)."""

from __future__ import annotations

import random
import uuid

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from tests.conftest import SF_MEDIUM
from tests.test_parquet_schema_memo import BENCHMARK_SUBSET
from vectordb_bioinsight_spark.operators.bm25 import bm25_topk
from vectordb_bioinsight_spark.operators.fusion import rrf_fuse
from vectordb_bioinsight_spark.operators.vector import knn_brute_force
from vectordb_bioinsight_spark.session import CODEGEN_CACHE_ENTRIES


def _compilations(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sets_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    # the counter sees a miss: a literal no earlier query used is a new class
    before = _compilations(spark)
    spark.range(4).selectExpr(f"id * {uuid.uuid4().int % 10**9}L AS x").collect()
    assert _compilations(spark) > before


def test_repeated_catalog_round_compiles_nothing(spark):
    """A second round of the benchmark's eight catalog queries at sf0.01
    reuses every class the first round generated."""
    from vectordb_bioinsight_spark.plans.catalog import CATALOG

    def round_() -> dict[str, int]:
        out = {}
        for name in BENCHMARK_SUBSET:
            spark.catalog.clearCache()
            before = _compilations(spark)
            CATALOG[name][0](spark, SF_MEDIUM).write.format("noop").mode("overwrite").save()
            out[name] = _compilations(spark) - before
        return out

    round_()
    assert round_() == dict.fromkeys(BENCHMARK_SUBSET, 0)


@pytest.fixture
def cached_corpus(spark):
    rng = random.Random(5)
    words = ["gene", "cancer", "protein", "pathway", "tumor", "cell", "network", "signal", "kinase", "immune"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(8)), [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, embedding array<double>")
    docs = docs.persist(StorageLevel.MEMORY_ONLY)
    docs.count()
    yield docs, rng
    docs.unpersist()


def test_new_hybrid_query_compiles_nothing(spark, cached_corpus):
    """After one kNN + BM25 -> RRF query over a cached corpus, a query with
    a new vector and new terms (same term count) reuses every class."""
    docs, rng = cached_corpus

    def search(qv, text):
        dense = knn_brute_force(docs, "doc_id", "embedding", qv, k=50, metric="cosine")
        sparse = bm25_topk(docs, "doc_id", "text", text, k=50)
        fused = rrf_fuse({"dense": dense, "sparse": sparse}, weights={"dense": 0.6, "sparse": 0.4})
        return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(10).collect()

    assert len(search([rng.uniform(-1, 1) for _ in range(16)], "cancer pathway signal")) == 10
    before = _compilations(spark)
    assert len(search([rng.uniform(-1, 1) for _ in range(16)], "kinase immune tumor")) == 10
    assert _compilations(spark) - before == 0
