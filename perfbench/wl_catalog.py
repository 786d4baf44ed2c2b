"""catalog: a fixed subset of the engine's oracle-backed catalog queries
(relational joins/aggregates/windows, events, statistics, network, text)
over generated TPC-H-shaped tables. Each execution is forced with the noop
sink from a cleared Spark cache. Two warm-up rounds over the subset (the
first of them cold, what a submitted batch job pays) are kept in the trace;
then whole rounds run until the window ends. Every query's collected
result is compared with its DuckDB oracle SQL over the same parquet files.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import gen
import oracles

#: one or more per operator family; names are catalog keys. bh_adjust and
#: gsea_brand_es stay out: one warm execution costs 3.7 s and 6.5 s on 4
#: cores at these sizes, together more than twice the eight below, and the
#: run's time budget cannot hold them
SUBSET = (
    "pricing_summary",
    "top_brand_revenue",
    "first_order_per_customer",
    "user_event_window_stats",
    "sessionize",
    "wilcoxon_brand_price",
    "part_correlation_network",
    "keyword_topn",
)


def _trace_load_table(tr) -> None:
    """Wrap load_table where the catalog modules imported it, so the traced
    run gets a sources span inside each query's build."""
    from vectordb_bioinsight_spark.sources import readers

    real = readers.load_table

    def load_table(spark, sf_dir, name):
        with tr.span("sources.load_table"):
            return real(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("vectordb_bioinsight_spark.plans.") and getattr(mod, "load_table", None) is real:
            mod.load_table = load_table


def run(b) -> None:
    import duckdb

    from vectordb_bioinsight_spark.plans.catalog import CATALOG

    tr = b.tracer
    spark = b.start_spark()
    data_dir = os.path.join(b.work, "tables")
    tables = gen.catalog_tables(b.seed, b.size["catalog_scale"], data_dir)
    b.setup_done()
    if tr.enabled:
        _trace_load_table(tr)

    def execute(name: str, i: int) -> bool:
        fn = CATALOG[name][0]
        with tr.span(f"plans.{name}", i):
            with tr.span("plans.build", i):
                df = fn(spark, data_dir)
            df.write.format("noop").mode("overwrite").save()
        if tr.enabled:
            tr.count("persisted_left", b.persisted_rdds())
        return True

    def timed(name: str, i: int) -> float | None:
        b.clear_cache()
        group = f"{name}-{i}"
        b.job_group(group)
        t0 = time.perf_counter()
        ok = b.attempt(execute, name, i)
        elapsed = time.perf_counter() - t0
        if tr.enabled:
            jobs, stages, tasks = b.job_counts(group)
            tr.count("jobs", jobs)
            tr.count("stages", stages)
            tr.count("tasks", tasks)
            tr.count("queries", 1)
        return elapsed if ok else None

    n_warm = b.size["catalog_warm_rounds"]
    warmup = [{q: timed(q, r) for q in SUBSET} for r in range(n_warm)]
    warm: dict[str, list[float]] = {q: [] for q in SUBSET}
    deadline = time.perf_counter() + b.seconds
    rnd = n_warm
    while time.perf_counter() < deadline:
        for q in SUBSET:
            t = timed(q, rnd)
            if t is not None:
                warm[q].append(t)
        rnd += 1

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    for q in SUBSET:
        b.clear_cache()
        got = b.attempt(lambda: CATALOG[q][0](spark, data_dir))
        if got is None:
            continue
        cur = con.execute(CATALOG[q][1])
        want_cols = [d[0] for d in cur.description]
        problems = oracles.check_table(got.columns, [tuple(r) for r in got.collect()], want_cols, cur.fetchall())
        b.check([f"{q}: {p}" for p in problems])

    b.e2e.update({
        "warm_s": sum(statistics.median(v) for v in warm.values()),
        "throughput_per_s": sum(map(len, warm.values())) / sum(map(sum, warm.values())),
    })
    b.trace_extra.update({"warmup_s": warmup, "warm_s": warm, "rows": tables})
    if tr.enabled:
        n = tr.counts["queries"]
        b.layer.update({f"plans.{q}_s": statistics.median(warm[q]) for q in SUBSET})
        b.layer.update({
            "session.get_session_s": tr.median("session.get_session"),
            "sources.load_table_s": tr.median("sources.load_table"),
            "plans.build_s": tr.median("plans.build"),
            "plans.jobs_per_query": tr.counts["jobs"] / n,
            "plans.stages_per_query": tr.counts["stages"] / n,
            "plans.tasks_per_query": tr.counts["tasks"] / n,
            "plans.persisted_rdds_left": tr.counts["persisted_left"] / n,
        })
        import batch_probe
        import prep_probe

        b.layer.update(batch_probe.run_probe(b))
        b.layer.update(prep_probe.run_probe(b))
