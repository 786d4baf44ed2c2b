"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (single JVM); the configs below are chosen
so the same code degrades gracefully to a 1000-executor cluster: AQE enabled
(runtime broadcast/skew re-planning), Arrow on (pandas UDF hot paths), and
shuffle partitions sized to cores locally (a cluster deployment overrides
``spark.sql.shuffle.partitions`` / relies on AQE coalescing).

The codegen cache (``spark.sql.codegen.cache.maxEntries``) is sized to hold
every Java class the catalog generates, so a warm session compiles nothing
when it runs a query shape again. It is a static setting: it takes effect
only when ``get_session`` creates the session (and its JVM); a call that
finds a live session keeps that session's value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` (Spark's default is 100): Spark's
#: least-recently-used cache of compiled Janino classes, shared by the
#: driver and the executors of one JVM. ``scripts/codegen_census.py`` over
#: the whole catalog at sf0.01 (TESTDATA.md; two passes, 4 cores) prints
#:     queries: 304 (0 failed)
#:     compilations: pass 1 3892, pass 2 181
#:     queries compiling on pass 2: 29
#:     codegen cache maxEntries: 8192
#:     metaspace used after GC: 233 MiB
#: against "pass 1 5672, pass 2 5630" and 199 MiB at the default 100
#: entries, where every class is evicted before it is reused. One pass
#: needs ~3,900 distinct classes (the benchmark's eight catalog queries
#: 116: "pass 1 116, pass 2 0" here, "pass 2 82" at 100 entries), plus
#: ~200 a pass from the 29 queries whose generated code changes between
#: executions.
#: 8192 is twice one pass. ~4,000 more live classes cost ~34 MiB of
#: metaspace (outside the heap), so a full cache costs ~70 MiB.
CODEGEN_CACHE_ENTRIES = 8192


def get_session(app_name: str = "vectordb_bioinsight_spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    AQE is on so that at scale: small post-filter sides auto-broadcast, skewed
    shuffle partitions split (hub genes / hot terms are the classic skew case,
    SURVEY.md §4.2), and tiny partitions coalesce. The codegen cache holds
    ``CODEGEN_CACHE_ENTRIES`` compiled classes, so a repeated query shape
    compiles no Java. Static settings (the codegen cache size, driver
    memory, master) apply only when this call creates the session;
    ``getOrCreate`` on a live session keeps that session's values.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Filter-inference rules are excluded by default (overridable via
    # SPARK_GRAFT_EXCLUDED_RULES, "" re-enables them): both rules only ADD
    # redundant predicates (rows a join/Generate would drop anyway), so
    # results are identical — but predicate pushdown SUBSTITUTES the
    # derived column's full expression into a non-codegen Filter below the
    # defining Project, so every expensive derived key (the semdedup /
    # IVF-replay centroid argmins, the BPE encode chain, shingle arrays
    # feeding explode) was evaluated 3x per row, twice interpreted —
    # 27-43 KB filter conditions in the r10 'before' plans, +4.1 s on the
    # 73-query suite (guide §4.4's duplication class, expression form).
    # The cost is per-row CPU at ANY cluster size; what the exclusion
    # forgoes is null-key/empty-array pruning pushed to scans, which this
    # engine's plans don't rely on (derived join keys are non-null by
    # construction). Re-enable per deployment when data has null-heavy
    # join keys on direct scan columns.
    excluded_rules = os.environ.get(
        "SPARK_GRAFT_EXCLUDED_RULES",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate,"
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.optimizer.excludedRules", excluded_rules)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r11 measured, rejected): flipping
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
        # fixes the 32-core wide-agg inversion on the PERSISTING paths
        # (dsir 1.11->0.56 bench) by letting AQE coalesce cached subtrees,
        # but regresses the suite 49.2->60.0 s: every other query with a
        # persisted/checkpointed intermediate gets its cache stored in a
        # few coalesced partitions and its compute-heavy consumers
        # serialized (part_ppr +0.64 s, knn_vote_ensemble +0.51 s,
        # gsea_brand_es +0.46 s). Left at Spark's default.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # one BLAS thread per python worker: Spark already runs one task
        # per core, so a numpy/OpenBLAS pool sized to the machine inside
        # EVERY reused worker oversubscribes cores^2 threads (the r10
        # suite showed late-session Arrow-UDF queries degrading after the
        # BLAS kernels had run); per-task single-threaded math is the
        # standard executor discipline at any cluster size
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        # no per-call origin capture: with it on, every DataFrame/Column API
        # call walks the Python stack and makes ~4 extra py4j round trips to
        # record its file:line (building a 3-term BM25 top-k plan composed
        # through the Column API took 1,448 round trips with it, 328
        # without). What is lost: PySpark errors no longer carry the Python
        # file:line DataFrame query context; the SQL text fragment and the
        # JVM stack remain.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 32g: local mode runs the
    whole engine in the driver JVM, and a heap larger than the host lets the
    JVM grow until the kernel kills it instead of collecting or spilling."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(32 * 1024, max(1024, phys // 2 // 2**20))}m"


_PKG_SHIPPED: set[int] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Python workers don't inherit driver-side ``sys.path`` mutations, so UDFs
    that import from this package (the pandas-UDF stats tier) need the
    package distributed explicitly. Idempotent per SparkContext; works on a
    real cluster exactly as in local mode.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _PKG_SHIPPED:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = os.path.join(tempfile.gettempdir(), "vectordb_bioinsight_spark_pkg")
    zip_path = shutil.make_archive(staging, "zip", os.path.dirname(pkg_dir), os.path.basename(pkg_dir))
    sc.addPyFile(zip_path)
    _PKG_SHIPPED.add(key)
