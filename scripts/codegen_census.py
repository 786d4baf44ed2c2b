#!/usr/bin/env python
"""Census of the Java classes Spark generates for the catalog queries.

Runs each catalog query (noop sink, from a cleared Spark cache) in two
passes over the same session and counts Janino compilations
(``CodegenMetrics.METRIC_COMPILATION_TIME``, one per codegen-cache miss)
for every query on each pass. A compilation on the second pass is either a
class of the first pass that the codegen cache
(``spark.sql.codegen.cache.maxEntries``, set in ``session.get_session``)
evicted before it was reused, or a class whose code changes between
executions (a value computed per execution inlined as a Java literal, or a
whole-stage class named after a stage id that AQE assigns differently).
Under a cache larger than both passes together, nothing is evicted: the
first-pass total is then the number of distinct classes one pass
generates, and the second-pass figures are the per-execution classes.

    python scripts/codegen_census.py <sf_dir> [query ...]   # default: every catalog query

Prints one line per query (name<TAB>pass-1 compiles<TAB>pass-2 compiles,
or FAILED<TAB>error), then the totals, the cache size and the bytecode the
generated classes hold and the JVM's metaspace after a full GC. Exits
non-zero if a query fails.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: codegen_census.py <sf_dir> [query ...]", file=sys.stderr)
        return 2
    sf_dir, only = sys.argv[1], sys.argv[2:]
    from vectordb_bioinsight_spark.plans.catalog import CATALOG
    from vectordb_bioinsight_spark.session import get_session

    names = only or sorted(CATALOG)
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_session("codegen-census", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run(name: str) -> int | str:
        spark.catalog.clearCache()
        before = compiles.getCount()
        try:
            CATALOG[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - report and continue
            return str(exc).splitlines()[0][:200]
        return compiles.getCount() - before

    passes = [{n: run(n) for n in names} for _ in range(2)]
    failed = 0
    for n in names:
        a, b = passes[0][n], passes[1][n]
        if isinstance(a, str) or isinstance(b, str):
            failed += 1
            print(f"{n}\tFAILED\t{a if isinstance(a, str) else b}", flush=True)
        else:
            print(f"{n}\t{a}\t{b}", flush=True)
    totals = [sum(v for v in p.values() if isinstance(v, int)) for p in passes]
    size = metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE()
    entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    print(f"queries: {len(names)} ({failed} failed)")
    print(f"compilations: pass 1 {totals[0]}, pass 2 {totals[1]}")
    print(f"queries compiling on pass 2: {sum(1 for v in passes[1].values() if isinstance(v, int) and v)}")
    print(f"codegen cache maxEntries: {entries}")
    print(
        f"generated class bytecode: {size.getCount()} classes (inner classes included),"
        f" mean {size.getSnapshot().getMean() / 1024:.1f} KiB"
    )
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            print(f"metaspace used after GC: {pool.getUsage().getUsed() / 2**20:.0f} MiB")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
