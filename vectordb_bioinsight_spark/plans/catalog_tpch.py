"""TPC-H-shaped coverage queries — the "Absent from reference; declare for
oracle coverage" rows of SURVEY.md §2.3/2.4/2.7, plus catalog surfacing for
operators that so far only had unit tests (one-way ANOVA F, IVF kNN).

Shapes covered here and why they matter at 100 TB:

* Q7-shaped multi-join (``nation_volume_flow``): 5-table join where the join
  order and broadcast-vs-shuffle choice dominate. Dims are broadcast; only
  the two fact-sized joins (lineitem↔orders, orders↔customer) shuffle.
* Q12-shaped conditional agg, Q14-shaped ratio agg: map-side-combinable
  ``sum(when(...))`` — one shuffle each, no join amplification.
* Q19-shaped disjunctive predicate: OR-of-ANDs pushed into ONE scan, not
  three unioned scans.
* Q22-shaped anti-join with a scalar subquery threshold.
* GROUPING SETS (non-hierarchical — not expressible as rollup/cube).
* INTERSECT / EXCEPT set ops (SURVEY §2.7).
* Exact + approximate distinct aggregation (HLL sketch = the 100 TB path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.operators.stats import anova_f
from vectordb_bioinsight_spark.sources.readers import load_table

def _revenue():  # lazy: F.col needs an active session at call time, not import
    return F.col("l_extendedprice") * (1.0 - F.col("l_discount"))


def _revenue_dec():
    """Exact-decimal revenue: price and discount are 2-decimal-exact in the
    testdata, so decimal sums are order-independent and hash-stable across
    engines (double sums can flip the cent under different add orders)."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )


def q_nation_volume_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shaped volume shipping: revenue between (supplier nation, customer
    nation) pairs per ship year, 1996-1997. Declared-for-coverage join shape
    (SURVEY §2.3 "Absent"): nation/supplier broadcast (KB-scale dims), the
    lineitem↔orders↔customer path shuffles on its keys only.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    supp_n = F.broadcast(
        supp.join(
            F.broadcast(nation),
            supp.s_nationkey == nation.n_nationkey,
        ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    )
    cust_n = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            # decimal, not double: 1250 output groups make a float-sum land on
            # a cent boundary often enough that summation order flips round();
            # source prices/discounts are exact 2-decimal so decimal is exact
            F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


SQL_NATION_VOLUME_FLOW = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       year(l.l_shipdate)::INT AS l_year,
       round(sum(l.l_extendedprice::DECIMAL(18,2) * (1 - l.l_discount::DECIMAL(4,2))), 2)::DOUBLE
         AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE l.l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
GROUP BY 1, 2, 3
"""


def q_priority_lines_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped conditional aggregation: per return flag, how many 1997
    lineitems belong to high- vs low-priority orders. One join + one
    map-side-combinable agg (SURVEY §2.4 conditional-agg family, A12)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1997-01-01", "1997-12-31")
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


SQL_PRIORITY_LINES_BY_FLAG = """
SELECT l.l_returnflag,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
         AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate BETWEEN '1997-01-01' AND '1997-12-31'
GROUP BY 1
"""


def q_promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shaped promo-revenue ratio per 1997 month: percentage of revenue
    from PROMO-type parts. Broadcast part dim; single agg, ratio of two
    conditional sums (no second scan)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1997-01-01", "1997-12-31")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.month("l_shipdate").alias("l_month"))
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(_revenue()), 4).alias("promo_pct"),
            F.round(F.sum(_revenue()), 2).alias("revenue"),
        )
    )


SQL_PROMO_REVENUE_MONTHLY = """
SELECT month(l.l_shipdate)::INT AS l_month,
       round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1.0 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS promo_pct,
       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate BETWEEN '1997-01-01' AND '1997-12-31'
GROUP BY 1
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shaped OR-of-ANDs predicate: three (type, size-range, qty-range)
    arms evaluated in ONE joined scan — the disjunction is pushed into the
    scan filter, not three unioned subqueries. `.explain` shows a single
    PushedFilters'd parquet scan per side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    arm1 = (
        (F.col("p_type") == "PROMO")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    arm2 = (
        (F.col("p_type") == "ECONOMY")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    arm3 = (
        (F.col("p_type") == "LARGE")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(arm1 | arm2 | arm3)
        .agg(
            F.round(F.sum(_revenue()), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


SQL_DISJUNCTIVE_REVENUE = """
SELECT round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_type = 'PROMO'   AND p.p_size BETWEEN 1 AND 15  AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_type = 'ECONOMY' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_type = 'LARGE'   AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 50)
"""


_LAPSE_CUT = "1999-01-01"


def q_wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shaped: customers richer than the global positive-balance
    average with no order since 1999-01-01 (lapsed), counted per nation.
    Scalar-subquery threshold (one tiny agg, cross-joined = broadcast) +
    left-anti join against the recent-orders subset.

    (r08: "inactive" moved from never-ordered to lapsed-since-cut — the
    synthetic generator gives EVERY customer at least one order at every
    SF, so the original predicate returned zero rows everywhere and the
    driver hash check was vacuous; the lapse cut yields 2/14/148
    customers at sf0.001/0.01/0.1 and also pushes a date filter into the
    anti-join's build side.)"""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_LAPSE_CUT).cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_thr")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_thr"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_WEALTHY_INACTIVE_CUSTOMERS = f"""
SELECT c.c_nationkey, count(*)::BIGINT AS numcust, round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '{_LAPSE_CUT} 00:00:00')
GROUP BY 1
"""


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((l_returnflag), (l_linestatus)) — non-hierarchical
    sets, NOT expressible as rollup/cube (SURVEY §2.4 "Absent" row). One
    Expand + one agg; NULL slots labelled 'ALL' so the hash compare is
    null-free."""
    li = load_table(spark, sf_dir, "lineitem")
    li.select("l_returnflag", "l_linestatus", "l_extendedprice", "l_discount").createOrReplaceTempView(
        "_li_gs"
    )
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS ret_flag,
               coalesce(l_linestatus, 'ALL') AS line_status,
               round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    ).withColumn("n_lines", F.col("n_lines").cast("long"))


SQL_GROUPING_SETS_REVENUE = """
SELECT coalesce(l_returnflag, 'ALL') AS ret_flag,
       coalesce(l_linestatus, 'ALL') AS line_status,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def q_part_year_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 set operations: parts shipped in 1995 INTERSECT parts
    shipped in 1996 (tag 'both') unioned with 1995 EXCEPT 1996 (tag
    '1995_only'). Both sides are distinct projections of one fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p95 = (
        li.filter(F.col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select("l_partkey")
        .distinct()
    )
    p96 = (
        li.filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .select("l_partkey")
        .distinct()
    )
    both = p95.intersect(p96).withColumn("tag", F.lit("both"))
    only95 = p95.subtract(p96).withColumn("tag", F.lit("1995_only"))
    return both.unionByName(only95)


SQL_PART_YEAR_SETOPS = """
WITH p95 AS (
  SELECT DISTINCT l_partkey FROM lineitem
  WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'
), p96 AS (
  SELECT DISTINCT l_partkey FROM lineitem
  WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'
)
SELECT l_partkey, 'both' AS tag FROM (SELECT * FROM p95 INTERSECT SELECT * FROM p96)
UNION ALL
SELECT l_partkey, '1995_only' AS tag FROM (SELECT * FROM p95 EXCEPT SELECT * FROM p96)
"""


def q_anova_brand_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9's supervised HVG selection (ANOVA F, preprocessor.py:124-267
    analog): per brand, one-way F of l_quantity across the three return-flag
    groups — closed form from two map-side-combinable moment aggs, any
    number of groups. Exact p-values live in ``anova_pvalues`` (scipy-free
    F survival via the incomplete-beta kernel; numpy-oracle-tested)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    df = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand", "l_returnflag", "l_quantity"
    )
    return anova_f(df, ["p_brand"], "l_returnflag", "l_quantity")


SQL_ANOVA_BRAND_QUANTITY = """
WITH base AS (
  SELECT p.p_brand, l.l_returnflag AS g, l.l_quantity::DOUBLE AS v
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), per_group AS (
  SELECT p_brand, g, count(*)::DOUBLE AS n, avg(v) AS m,
         coalesce(var_samp(v), 0.0) AS s2
  FROM base GROUP BY 1, 2
), agg AS (
  SELECT p_brand, count(*)::DOUBLE AS k, sum(n) AS nn,
         sum(n * m) / sum(n) AS grand,
         sum(n * m * m) AS sum_nm2,
         sum((n - 1.0) * s2) AS ssw
  FROM per_group GROUP BY 1
)
SELECT p_brand, k::BIGINT AS k_groups, nn::BIGINT AS n_total,
       round(((sum_nm2 - nn * grand * grand) / (k - 1.0)) / (ssw / (nn - k)), 6) AS f_stat
FROM agg WHERE k >= 2 AND nn > k AND ssw > 0
"""


def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 scale path surfaced in the catalog: IVF kNN (KMeans cells + probe
    join, operators/vector.py). Run with n_probe == n_cells, which degrades
    to exact brute force — so the approximate INDEX STRUCTURE is exercised
    while the result stays hash-matchable against the exact-cosine oracle.
    (The n_probe < n_cells recall path is pinned by tests/test_operators.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    from vectordb_bioinsight_spark.operators.vector import knn_ivf

    return knn_ivf(
        emb, queries, "vec_id", "vec_id", "embedding", k=5, n_cells=8, n_probe=8
    )


SQL_IVF_KNN = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
), pairs AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
), sums AS (
  SELECT query_id, cand_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS score
  FROM pairs GROUP BY 1, 2
)
SELECT query_id, cand_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, cand_id ASC) AS rank
  FROM sums
) WHERE rank <= 5
"""


def q_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation per event type (two-phase partial-distinct
    plan under AQE). The 100 TB path is the HLL sketch twin below."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_events"),
    )


SQL_DISTINCT_USERS_BY_TYPE = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users, count(*)::BIGINT AS n_events
FROM events GROUP BY 1
"""


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via the deterministic-
    replay HLL (operators/sketches.py::hll_replay_registers /
    hll_replay_estimate) — the sketch that replaces exact distinct at
    100 TB (register rows per group, never a per-key value set). Built on
    the engine's portable hash with integer-exact register sums, the
    WHOLE pipeline (registers and estimate) replays in the DuckDB twin,
    so this entry is hash-checked — the r06 verdict's last rows-only
    sketch family closed. The Datasketches variant (hll_shards) remains
    the production default; its register state is pinned by
    merge==rebuild unit tests."""
    from vectordb_bioinsight_spark.operators.sketches import (
        hll_replay_estimate,
        hll_replay_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    regs = hll_replay_registers(ev, ["event_type"], "user_id")
    return hll_replay_estimate(regs, ["event_type"]).withColumnRenamed(
        "approx_distinct", "approx_users"
    )


def _sql_approx_distinct_users() -> str:
    from vectordb_bioinsight_spark.operators.sketches import hll_replay_estimate_sql

    inner = hll_replay_estimate_sql(
        "SELECT event_type, user_id FROM events",
        "event_type",
        "user_id::VARCHAR",
    )
    return f"SELECT grp AS event_type, approx_distinct AS approx_users FROM ({inner})"


SQL_APPROX_DISTINCT_USERS = _sql_approx_distinct_users()


def q_pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.1 wide↔long discipline: monthly revenue pivoted wide per return
    flag (the bounded genes×samples export view) then melted straight back
    to long with ``stack`` — proving the round trip is lossless. The pivot
    value set is DECLARED (['A','N','R']), so Spark skips the extra
    distinct-values job; missing (month, flag) cells become NULL wide slots
    and are dropped on re-melt. Long format is the storage/processing form
    at 100 TB (SURVEY §7.2: never materialize wide at scale); pivot is only
    this bounded view."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy(F.year("l_shipdate").alias("l_year"), F.month("l_shipdate").alias("l_month"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double"))
    )
    return (
        wide.selectExpr(
            "l_year",
            "l_month",
            "stack(3, 'A', A, 'N', N, 'R', R) AS (ret_flag, revenue)",
        )
        .filter(F.col("revenue").isNotNull())
    )


SQL_PIVOT_UNPIVOT_ROUNDTRIP = """
SELECT year(l_shipdate)::INT AS l_year, month(l_shipdate)::INT AS l_month,
       l_returnflag AS ret_flag,
       round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE
         AS revenue
FROM lineitem GROUP BY 1, 2, 3
"""


def q_hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% document sample by key-hash bucket (the training-
    data-pipeline sampling discipline: stable across runs/engines/
    partitionings, unlike RNG sampling — operators/sampling.py). Stratified
    on top: 'en' docs at 10%, others at 30% via broadcast rate map."""
    from vectordb_bioinsight_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.10}, default_fraction=0.30, salt=7
    )
    return out.select("doc_id", "lang")


SQL_HASH_SAMPLE_DOCS = """
SELECT doc_id, lang FROM documents
WHERE ((('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 10000
        + 10000) % 10000
      < CASE WHEN lang = 'en' THEN 1000 ELSE 3000 END
"""


def q_hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free deterministic train/val/test split by key hash (M9's
    group-aware split discipline re-expressed as hash buckets): every doc_id
    lands in exactly one split, 80/10/10, reproducibly."""
    from vectordb_bioinsight_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", [0.8, 0.1, 0.1], ["train", "val", "test"], salt=3)
    return out.groupBy("split").agg(F.count("*").cast("long").alias("n_docs"))


SQL_HASH_SPLIT_DOCS = """
WITH b AS (
  SELECT ((('0x' || substr(md5('3|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 10000
          + 10000) % 10000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs
FROM b GROUP BY 1
"""


def q_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic per-group sample: bottom-5 hash values per
    document source (the bottom-k sketch — uniform without replacement,
    stable across runs)."""
    from vectordb_bioinsight_spark.operators.sampling import reservoir_per_group

    docs = load_table(spark, sf_dir, "documents")
    out = reservoir_per_group(docs, ["source"], "doc_id", n_per_group=5, salt=1)
    return out.select("source", "doc_id")


SQL_RESERVOIR_PER_SOURCE = """
WITH h AS (
  SELECT source, doc_id,
         (('0x' || substr(md5('1|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS hv
  FROM documents
)
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY hv ASC, doc_id ASC) AS rn
  FROM h
) WHERE rn <= 5
"""


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table: ALL columns in ONE scan
    (null counts, distinct, min/max/avg as map-side-combinable aggregates —
    operators/relational.profile_table). exact_distinct here for the oracle;
    the production default is the HLL sketch."""
    from vectordb_bioinsight_spark.operators.relational import profile_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "lang", "source", "n_chars"], exact_distinct=True)


SQL_PROFILE_DOCUMENTS = """
WITH one AS (
  SELECT count(*)::BIGINT AS n_rows,
         sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls_doc_id,
         count(DISTINCT doc_id)::BIGINT AS dist_doc_id,
         min(CAST(doc_id AS VARCHAR)) AS min_doc_id, max(CAST(doc_id AS VARCHAR)) AS max_doc_id,
         round(avg(doc_id::DOUBLE), 6) AS avg_doc_id,
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls_lang,
         count(DISTINCT lang)::BIGINT AS dist_lang,
         min(lang) AS min_lang, max(lang) AS max_lang,
         round(avg(TRY_CAST(lang AS DOUBLE)), 6) AS avg_lang,
         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls_source,
         count(DISTINCT source)::BIGINT AS dist_source,
         min(source) AS min_source, max(source) AS max_source,
         round(avg(TRY_CAST(source AS DOUBLE)), 6) AS avg_source,
         sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls_n_chars,
         count(DISTINCT n_chars)::BIGINT AS dist_n_chars,
         min(CAST(n_chars AS VARCHAR)) AS min_n_chars, max(CAST(n_chars AS VARCHAR)) AS max_n_chars,
         round(avg(n_chars::DOUBLE), 6) AS avg_n_chars
  FROM documents
)
SELECT 'doc_id' AS column, n_rows, nulls_doc_id AS n_nulls, dist_doc_id AS n_distinct,
       min_doc_id AS min_str, max_doc_id AS max_str, avg_doc_id AS avg_num FROM one
UNION ALL
SELECT 'lang', n_rows, nulls_lang, dist_lang, min_lang, max_lang, avg_lang FROM one
UNION ALL
SELECT 'source', n_rows, nulls_source, dist_source, min_source, max_source, avg_source FROM one
UNION ALL
SELECT 'n_chars', n_rows, nulls_n_chars, dist_n_chars, min_n_chars, max_n_chars, avg_n_chars FROM one
"""


def q_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 on int8-quantized vectors: cosine top-10 to the vec_id=0 query
    computed entirely on symmetric-int8 codes (4x smaller storage/shuffle
    than float32 — the 100 TB vector-layout lever; functions/vector.py
    quantize_int8). Exact same arithmetic as the DuckDB oracle, so the
    quantized ranking is hash-matched, and recall vs float is test-pinned."""
    from vectordb_bioinsight_spark.functions.vector import (
        dot_product,
        l2_norm,
        max_abs,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("vec_id"),
        quantize_int8("embedding", max_abs("embedding")).alias("qv"),
    )
    qry = q.filter(F.col("vec_id") == 0).select(F.col("qv").alias("q_query"))
    pairs = q.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qry))
    score = dot_product("qv", "q_query") / F.nullif(
        l2_norm("qv") * l2_norm("q_query"), F.lit(0.0)
    )
    return (
        pairs.select("vec_id", F.round(score, 6).alias("cosine_q"))
        .orderBy(F.desc("cosine_q"), F.asc("vec_id"))
        .limit(10)
    )


SQL_QUANTIZED_KNN = """
WITH qz AS (
  SELECT vec_id,
         [greatest(-127, least(127, round(x::DOUBLE * 127.0 / s)))::INT
          FOR x IN embedding] AS qv
  FROM (
    SELECT vec_id, embedding,
           (SELECT max(abs(u.x::DOUBLE)) FROM unnest(embedding) AS u(x)) AS s
    FROM embeddings
  )
), q AS (SELECT qv AS qq FROM qz WHERE vec_id = 0),
pairs AS (
  SELECT z.vec_id, unnest(z.qv)::DOUBLE AS x, unnest(q.qq)::DOUBLE AS y
  FROM qz z, q WHERE z.vec_id <> 0
), sums AS (
  SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
  FROM pairs GROUP BY 1
)
SELECT vec_id, round(dot / nullif(sqrt(nx) * sqrt(ny), 0.0), 6) AS cosine_q
FROM sums ORDER BY cosine_q DESC, vec_id ASC LIMIT 10
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated aggregate filter: revenue from lineitems whose
    quantity is below 20% of their part's average quantity. The correlated
    scalar subquery decorrelates to one per-part aggregate joined back —
    expressed directly that way (aggregate once, join, filter) instead of a
    per-row subquery: same semantics, one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("_avg_qty"))
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


SQL_SMALL_QUANTITY_REVENUE = """
SELECT round(sum(l.l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem l
WHERE l.l_quantity < 0.2 * (
  SELECT avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
)
"""


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shaped: customers whose single order exceeds 300 total quantity —
    groupBy-HAVING subquery driving a semi-join back to orders/customer,
    top-20 by order total."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "l_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), F.asc("l_orderkey"))
        .limit(20)
    )


SQL_LARGE_ORDER_CUSTOMERS = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
)
SELECT c.c_custkey, c.c_name, b.l_orderkey,
       round(o.o_totalprice, 2) AS o_totalprice, round(b.total_qty, 2) AS total_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY total_qty DESC, l_orderkey ASC LIMIT 20
"""


def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shaped: suppliers achieving the MAXIMUM 1997 revenue — the
    view-plus-scalar-subquery pattern; ties all surface (rank, not limit 1).
    Decimal revenue so the max comparison is exact across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1997-01-01", "1997-12-31")
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(_revenue_dec()), 2).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(supp.select("s_suppkey", "s_name")), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev"))
    )


SQL_TOP_REVENUE_SUPPLIERS = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(4,2))), 2)
           AS total_rev
  FROM lineitem
  WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-12-31'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_rev::DOUBLE AS total_rev
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shaped multi-EXISTS: suppliers with a returned ('R') lineitem on a
    multi-supplier order where they were the ONLY supplier with a return —
    an EXISTS plus NOT-EXISTS pair of self-joins on the fact table,
    decorrelated to semi/anti joins on (orderkey ≠ suppkey) conditions.
    Top-20 by count."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    # another supplier participated in the order
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    ).distinct()
    # ...but no OTHER supplier had a return on it
    l3 = l1.select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    cand = l1.join(
        l2, (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2), "left_semi"
    )
    sole = cand.join(
        l3, (cand.l_orderkey == l3.o3) & (cand.l_suppkey != l3.s3), "left_anti"
    )
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(F.broadcast(supp.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


SQL_WAITING_SUPPLIERS = """
SELECT s.s_suppkey, s.s_name, count(*)::BIGINT AS numwait
FROM lineitem l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey ASC LIMIT 20
"""


def q_knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 approximate path surfaced for the driver: random-hyperplane LSH
    bucket restriction + exact cosine inside the bucket
    (operators/vector.knn_lsh). Oracle-backed since r03: the seeded
    hyperplanes are driver-generated constants, so the SQL twin inlines
    the SAME plane literals and replays bucket assignment (sign of v·p_j
    per plane), the query-bucket equality filter, and the in-bucket cosine
    top-k — the bucket detail is engine-replayable after all."""
    from vectordb_bioinsight_spark.operators.vector import knn_lsh
    from vectordb_bioinsight_spark.plans.catalog_vector import _query_vector

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return knn_lsh(emb, "vec_id", "embedding", qv, dim=len(qv), k=10, num_planes=4)


def _knn_lsh_sql(num_planes: int = 4, dim: int = 64, seed: int = 42, k: int = 10) -> str:
    """Generated twin of q_knn_lsh_bucketed: the same seeded hyperplanes
    (operators/vector.lsh_planes), inlined as SQL array literals (repr()
    round-trips doubles exactly on both parsers)."""
    from vectordb_bioinsight_spark.operators.vector import lsh_planes
    from vectordb_bioinsight_spark.plans.catalog_vector import QUERY_VEC_ID

    planes = lsh_planes(dim, num_planes, seed)

    def bucket_expr(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({col}, "
            f"[{', '.join(repr(x) for x in p)}]) >= 0 THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(planes)
        )

    return f"""
WITH q AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), qb AS (
  SELECT {bucket_expr('qv')} AS bucket FROM q
), b AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev,
         {bucket_expr('list_transform(embedding, x -> x::DOUBLE)')} AS bucket
  FROM embeddings
), hits AS (
  SELECT b.vec_id, b.ev FROM b, qb WHERE b.bucket = qb.bucket
), sums AS (
  SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
  FROM (SELECT h.vec_id, unnest(h.ev) AS x, unnest(q.qv) AS y FROM hits h, q)
  GROUP BY 1
)
SELECT vec_id, round(dot / nullif(sqrt(nx) * sqrt(ny), 0), 6) AS score
FROM sums ORDER BY score DESC, vec_id ASC LIMIT {k}
"""


SQL_KNN_LSH_BUCKETED = _knn_lsh_sql()
