"""hybrid_search: one client runs a closed loop of distinct hybrid queries
over a generated, cached corpus. A query is knn_brute_force (cosine, k=50)
+ bm25_topk (k=50) -> rrf_fuse (0.6/0.4, k=60) -> top 10, collected.

Spark's cache is cleared after every query (bm25_topk persists a per-query
table nobody reuses) and the corpus is cached again, untimed: users get the
cached corpus on every query, never the previous query's tables.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import gen
import oracles

FETCH_K = 50
TOP_K = 10
WEIGHTS = {"dense": 0.6, "bm25": 0.4}
#: query stream length; the window stops long before it runs out
N_QUERIES = 400


def run(b) -> None:
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from vectordb_bioinsight_spark.operators.bm25 import bm25_topk
    from vectordb_bioinsight_spark.operators.fusion import rrf_fuse
    from vectordb_bioinsight_spark.operators.vector import knn_brute_force
    from vectordb_bioinsight_spark.sources.readers import load_table

    tr = b.tracer
    spark = b.start_spark()
    data = gen.search_corpus(b.seed, b.size["hybrid_docs"], b.size["hybrid_dim"], N_QUERIES)
    data_dir = os.path.join(b.work, "data")
    gen.write_search_corpus(data, os.path.join(data_dir, "docs.parquet"))
    with tr.span("sources.load_table"):
        docs = load_table(spark, data_dir, "docs")
    docs.persist(StorageLevel.MEMORY_ONLY).count()
    b.setup_done()

    bm25 = oracles.BM25(data["ids"], data["texts"])
    norms = oracles.fold_norms(data["vecs"])

    def materialize(df):
        if tr.enabled:
            df = df.persist()
            df.count()
        return df

    def search(i: int):
        qv = [float(x) for x in data["q_vecs"][i]]
        qt = data["q_texts"][i]
        with tr.span("operators.knn_brute_force", i):
            with tr.span("plans.build", i):
                dense = knn_brute_force(docs, "doc_id", "embedding", qv, k=FETCH_K)
            dense = materialize(dense)
        with tr.span("operators.bm25_topk", i):
            with tr.span("plans.build", i):
                sparse = bm25_topk(docs, "doc_id", "text", qt, k=FETCH_K)
            sparse = materialize(sparse)
        with tr.span("operators.rrf_fuse", i):
            with tr.span("plans.build", i):
                fused = rrf_fuse({"dense": dense, "bm25": sparse}, weights=WEIGHTS, rrf_k=oracles.RRF_K)
            rows = fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(TOP_K).collect()
        return [(int(r["doc_id"]), float(r["rrf_score"])) for r in rows]

    def expected(i: int) -> dict[int, float]:
        dense = oracles.ranked(data["ids"], oracles.cosine_scores(data["vecs"], norms, data["q_vecs"][i]), FETCH_K)
        sparse = bm25.topk(oracles.query_terms(data["q_texts"][i]), FETCH_K)
        return oracles.rrf({"dense": dense, "bm25": sparse}, WEIGHTS)

    def timed_query(i: int) -> float | None:
        group = f"search-{i}"
        b.job_group(group)
        t0 = time.perf_counter()
        with tr.span("op.search", i):
            rows = b.attempt(search, i)
        elapsed = time.perf_counter() - t0
        if tr.enabled:
            jobs, _, tasks = b.job_counts(group)
            tr.count("jobs", jobs)
            tr.count("tasks", tasks)
            tr.count("searches", 1)
        b.clear_cache()
        docs.persist(StorageLevel.MEMORY_ONLY).count()
        if rows is None:
            return None
        b.check(oracles.check_hybrid(rows, expected(i)))
        return elapsed

    n_warm = b.size["hybrid_warm"]
    warmup = [timed_query(i) for i in range(n_warm)]
    lat: list[float] = []
    deadline = time.perf_counter() + b.seconds
    i = n_warm
    while time.perf_counter() < deadline or i < n_warm + 3:
        t = timed_query(i)
        if t is not None:
            lat.append(t)
        i += 1

    b.e2e.update({
        "warm_s": statistics.median(lat),
        "throughput_per_s": len(lat) / sum(lat),
    })
    b.trace_extra.update({"warmup_latencies_s": warmup, "search_latencies_s": lat})
    print(f"perfbench: warm-up latencies {warmup}, window latencies {lat}", file=sys.stderr)
    if tr.enabled:
        n = tr.counts["searches"]
        b.layer.update({
            "operators.knn_brute_force_s": tr.median("operators.knn_brute_force"),
            "operators.bm25_topk_s": tr.median("operators.bm25_topk"),
            "operators.rrf_fuse_s": tr.median("operators.rrf_fuse"),
            "operators.jobs_per_search": tr.counts["jobs"] / n,
            "operators.tasks_per_search": tr.counts["tasks"] / n,
            "operators.search_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) >= 2 else lat[0],
            "plans.build_s": statistics.median(tr.per_op("plans.build").values()),
            "session.get_session_s": tr.median("session.get_session"),
            "sources.load_table_s": tr.median("sources.load_table"),
        })
        b.layer.update(function_probes(b, docs, data["q_vecs"][0]))


def function_probes(b, docs, qv) -> dict[str, float]:
    """Rows per second of the column functions the search path evaluates,
    over the cached corpus replicated to ~100k rows, forced with the noop
    sink (median of three)."""
    from pyspark.sql import functions as F

    from vectordb_bioinsight_spark.functions.text import tokenize
    from vectordb_bioinsight_spark.functions.vector import dot_product

    n = docs.count()
    reps = max(1, 100_000 // n)
    big = docs.crossJoin(b.spark.range(reps).withColumnRenamed("id", "_rep"))
    rows = n * reps
    q = F.array(*[F.lit(float(x)) for x in qv])
    out = {}
    for name, col in (("dot_product", dot_product(F.col("embedding"), q)), ("tokenize", F.size(tokenize("text")))):
        for _ in range(3):
            with b.tracer.span(f"functions.{name}"):
                big.select(col.alias("_v")).write.format("noop").mode("overwrite").save()
        out[f"functions.{name}_rows_per_s"] = rows / b.tracer.median(f"functions.{name}")
    return out
