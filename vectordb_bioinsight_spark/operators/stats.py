"""Distributed statistics operators — SURVEY.md A3/A4, §4.3(5).

Two tiers:
* **Closed-form column expressions** (this module's default): moments are one
  map-side-combinable aggregation; t statistics, fold changes, and BH-FDR are
  window/expression arithmetic. Scales to any number of groups with exactly
  one shuffle per statistic.
* **pandas-UDF tier** for exact p-values (scipy's t survival function has no
  closed form); Arrow-batched, applied to the already-aggregated moments table
  (rows = number of genes/groups, i.e. tiny relative to the fact table).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_bioinsight_spark.functions.stats import welch_df, welch_t


def group_moments(
    df: DataFrame,
    key_cols: list[str],
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Per-key two-group moments in ONE aggregation (no pivot shuffle):
    (key..., mean_a, var_a, n_a, mean_b, var_b, n_b)."""
    is_a = F.col(group_col) == group_a
    is_b = F.col(group_col) == group_b
    v = F.col(value_col).cast("double")
    return df.groupBy(*key_cols).agg(
        F.avg(F.when(is_a, v)).alias("mean_a"),
        F.var_samp(F.when(is_a, v)).alias("var_a"),
        F.count(F.when(is_a, v)).cast("double").alias("n_a"),
        F.avg(F.when(is_b, v)).alias("mean_b"),
        F.var_samp(F.when(is_b, v)).alias("var_b"),
        F.count(F.when(is_b, v)).cast("double").alias("n_b"),
    )


def welch_ttest(
    moments: DataFrame,
    exact_pvalues: bool = True,
) -> DataFrame:
    """Welch t-test columns (t_stat, df, pvalue) appended to a moments table.

    ``exact_pvalues=True`` uses an Arrow-batched pandas UDF computing the
    exact Student-t two-sided p (regularized incomplete beta, pure numpy —
    functions/special.py) on the aggregated table; False uses the JVM-side
    normal approximation. Reference A3: per-gene scipy.stats.ttest_ind
    (agent1_deg.py:390-414), NaN -> 1.0.
    """
    out = moments.withColumn(
        "t_stat", welch_t(F.col("mean_a"), F.col("var_a"), F.col("n_a"), F.col("mean_b"), F.col("var_b"), F.col("n_b"))
    ).withColumn("df", welch_df(F.col("var_a"), F.col("n_a"), F.col("var_b"), F.col("n_b")))
    if exact_pvalues:
        from vectordb_bioinsight_spark.session import ensure_package_on_executors

        ensure_package_on_executors(moments.sparkSession)

        @F.pandas_udf(T.DoubleType())
        def _t_sf2(t, df):  # type: ignore[no-untyped-def]
            import pandas as pd

            from vectordb_bioinsight_spark.functions.special import t_pvalue_two_sided

            return pd.Series(t_pvalue_two_sided(t.to_numpy(), df.to_numpy()))

        out = out.withColumn("pvalue", _t_sf2(F.col("t_stat"), F.col("df")))
    else:
        from vectordb_bioinsight_spark.functions.stats import normal_sf

        out = out.withColumn("pvalue", F.coalesce(2.0 * normal_sf(F.abs(F.col("t_stat"))), F.lit(1.0)))
    return out.withColumn("pvalue", F.coalesce(F.col("pvalue"), F.lit(1.0)))


def bh_adjust(df: DataFrame, pvalue_col: str = "pvalue", out_col: str = "padj") -> DataFrame:
    """A4: Benjamini-Hochberg FDR — padj = reverse-cummin(p * n / rank), <=1.

    Pure window arithmetic (statsmodels-compatible, incl. ties): rank by
    p ascending; reverse running min over the descending-rank frame. The
    unpartitioned windows are acceptable because BH runs on the aggregated
    per-gene table (1e4-1e6 rows), not the fact table; for larger inputs
    partition by contrast/batch key.
    Reference: multipletests(method='fdr_bh') (agent1_deg.py:417-420).
    """
    n_df = df.agg(F.count("*").cast("double").alias("_n"))
    w_rank = Window.orderBy(F.col(pvalue_col).asc())
    # Reverse pass ordered by (p desc, rank desc): within a tie group the
    # max-rank row (smallest raw) comes first, so every tied row sees it —
    # exact BH tie semantics regardless of row_number's arbitrary tie order.
    w_rev = Window.orderBy(F.col(pvalue_col).desc(), F.col("_rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        df.crossJoin(F.broadcast(n_df))
        .withColumn("_rank", F.row_number().over(w_rank))
        .withColumn("_raw", F.col(pvalue_col) * F.col("_n") / F.col("_rank"))
        .withColumn(out_col, F.least(F.min("_raw").over(w_rev), F.lit(1.0)))
        .drop("_rank", "_raw", "_n")
    )


def bh_adjust_scaled(
    df: DataFrame,
    pvalue_col: str = "pvalue",
    out_col: str = "padj",
    num_partitions: int = 32,
) -> DataFrame:
    """``bh_adjust`` without the single-partition global windows — the shape
    that survives a table too big for one task.

    ``Window.orderBy`` with no partition key funnels EVERY row through one
    task (Spark warns exactly this). Here the global order comes from a
    range repartition instead, which is a parallel shuffle:

    1. ``repartitionByRange(p)`` + ``sortWithinPartitions`` — partitions are
       globally ordered, rows sorted inside each; eager localCheckpoint pins
       partition identity (partition ids are stage-relative otherwise;
       lazy was A/B-measured slower under AQE — r10).
    2. Per-partition row counts (one tiny collect) → rank offsets; a
       mapInPandas pass assigns exact global ranks and raw = p·n/rank.
    3. Per-partition min(raw) (second tiny collect) → driver-side suffix-min
       gives each partition the carry-in from all higher-p partitions; a
       second mapInPandas does the reverse running-min locally.

    Exactly BH (statsmodels-compatible, same tie semantics as ``bh_adjust``:
    equal p-values land in one range partition, and the reverse scan visits
    the tied max-rank row first). Equivalence is test-pinned. Driver traffic
    is 2 × num_partitions scalars — independent of row count.
    """
    import pandas as pd

    ranked_src = (
        df.repartitionByRange(num_partitions, F.col(pvalue_col).asc())
        .sortWithinPartitions(F.col(pvalue_col).asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {r["_pid"]: r["count"] for r in ranked_src.groupBy("_pid").count().collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # N falls out of the phase-2 counts — a separate df.count() would
    # recompute the whole upstream of a derived input
    n_total = acc
    if n_total == 0:
        return df.withColumn(out_col, F.lit(None).cast("double"))
    b_off = df.sparkSession.sparkContext.broadcast(offsets)

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema_ranked = StructType(
        list(ranked_src.schema.fields) + [StructField("_raw", DoubleType(), True)]
    )

    def _rank_raw(it):  # noqa: ANN001
        nxt: dict[int, int] = {}  # a partition arrives as SEVERAL Arrow batches
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            pid = int(out["_pid"].iloc[0])
            start = nxt.get(pid, b_off.value[pid])
            rank = pd.RangeIndex(start + 1, start + 1 + len(out))
            out["_raw"] = out[pvalue_col].to_numpy() * float(n_total) / rank.to_numpy()
            nxt[pid] = start + len(out)
            yield out

    ranked = ranked_src.mapInPandas(_rank_raw, schema=schema_ranked).localCheckpoint(
        eager=True
    )

    pmins = {
        r["_pid"]: r["m"]
        for r in ranked.groupBy("_pid").agg(F.min("_raw").alias("m")).collect()
    }
    carry: dict[int, float] = {}
    run = float("inf")
    for pid in sorted(pmins, reverse=True):
        carry[pid] = run  # min raw over all strictly-higher partitions
        run = min(run, pmins[pid])
    b_carry = df.sparkSession.sparkContext.broadcast(carry)

    out_fields = [f for f in schema_ranked.fields if f.name not in ("_pid", "_raw")] + [
        StructField(out_col, DoubleType(), True)
    ]

    def _rev_cummin(it):  # noqa: ANN001
        # the reverse scan needs the partition's batches in reverse order, so
        # buffer the partition (mapInPandas invokes once per partition; a BH
        # input partition is rows/num_partitions of the per-gene table)
        batches = [pdf for pdf in it if len(pdf) > 0]
        if not batches:
            return
        out = pd.concat(batches, ignore_index=True)
        pid = int(out["_pid"].iloc[0])
        running = b_carry.value[pid]
        raws = out["_raw"].to_numpy()
        padj = [0.0] * len(out)
        for i in range(len(out) - 1, -1, -1):
            running = min(running, float(raws[i]))
            padj[i] = min(running, 1.0)
        out[out_col] = padj
        yield out.drop(columns=["_pid", "_raw"])

    return ranked.mapInPandas(_rev_cummin, schema=StructType(out_fields))


def cpm_normalize(
    df: DataFrame,
    sample_col: str,
    value_col: str,
    out_col: str = "cpm",
) -> DataFrame:
    """A2: counts-per-million — value / per-sample-total * 1e6
    (agent1_deg.py:436-438). Group-agg + broadcast join back (not a window:
    the agg output is one row per sample, tiny, and the fact table is joined
    shuffle-free when sample count is broadcastable)."""
    totals = df.groupBy(sample_col).agg(F.sum(F.col(value_col).cast("double")).alias("_total"))
    return (
        df.join(F.broadcast(totals), sample_col)
        .withColumn(out_col, F.col(value_col).cast("double") / F.col("_total") * 1e6)
        .drop("_total")
    )


def wilcoxon_rank_sum(
    df: DataFrame,
    key_cols: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """M11 marker test: per-key two-group Wilcoxon / Mann-Whitney rank-sum
    with tie correction — the distributed closed form of scanpy's
    ``rank_genes_groups(method='wilcoxon')`` (agent_singlecell.py:2139-2225).

    ``group_col`` must be boolean-like (1 = group A membership). Tie groups
    are aggregated FIRST — groupBy (key, value) with map-side combine — so
    the rank window runs over *distinct values per key*, not raw rows: the
    average rank of a tie group is ``(#smaller rows) + (t+1)/2`` from one
    running-sum window, and the tie term ``Σ(t³-t)`` falls out of the same
    grouped table. One agg shuffle + one window + one tiny agg — no raw-row
    sort, no second tie pass, no join. At 100 TB the window input is bounded
    by value cardinality per key, not row count.

    Output: (key..., n_a, n_b, u_stat, z) with
      U = R_a - n_a(n_a+1)/2,  z = (U - n_a·n_b/2) / sqrt(var_tie).
    Keys with an empty group or zero variance (all values tied) are dropped.
    p-values: ``wilcoxon_pvalues``.
    """
    v = F.col(value_col).cast("double")
    g = F.col(group_col).cast("int")
    tied = df.groupBy(*key_cols, v.alias("_v")).agg(
        F.count("*").cast("double").alias("_t"),
        F.sum(g).cast("double").alias("_t_a"),
    )
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = tied.withColumn(
        "_avg_r",
        F.coalesce(F.sum("_t").over(w_cum), F.lit(0.0)) + (F.col("_t") + 1.0) / 2.0,
    )
    j = ranked.groupBy(*key_cols).agg(
        F.sum("_t").alias("_n"),
        F.sum("_t_a").alias("n_a"),
        F.sum(F.col("_t_a") * F.col("_avg_r")).alias("_r_a"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")).alias("_tie_sum"),
    )
    n, n_a = F.col("_n"), F.col("n_a")
    n_b = n - n_a
    u = F.col("_r_a") - n_a * (n_a + 1.0) / 2.0
    var = n_a * n_b / 12.0 * ((n + 1.0) - F.col("_tie_sum") / (n * (n - 1.0)))
    z = (u - n_a * n_b / 2.0) / F.sqrt(var)
    return (
        j.filter((n_a > 0) & (n_b > 0) & (var > 0))
        .select(
            *key_cols,
            n_a.cast("long").alias("n_a"),
            n_b.cast("long").alias("n_b"),
            F.round(u, 4).alias("u_stat"),
            F.round(z, 6).alias("z"),
        )
    )


def wilcoxon_pvalues(df: DataFrame, z_col: str = "z") -> DataFrame:
    """Two-sided normal p-value 2·Φ̄(|z|) for the rank-sum z (the large-sample
    approximation scanpy itself uses), via the numpy special-function tier."""
    from vectordb_bioinsight_spark.session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)

    @F.pandas_udf(T.DoubleType())
    def _p(z):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        from vectordb_bioinsight_spark.functions.special import normal_sf

        return pd.Series(np.clip(2.0 * normal_sf(np.abs(z.to_numpy())), 0.0, 1.0))

    return df.withColumn("pvalue", _p(F.col(z_col)))


def enrichment_contingency(
    df: DataFrame,
    group_col: str,
    flag_col: str,
) -> DataFrame:
    """M7 enrichment contingency per group (gene-set ≡ group, DEG-list ≡ flag;
    agent3_pathway.py:148-202 re-expressed): population N, draws n (flagged
    rows), per-group K, overlap k, and fold enrichment (k/n)/(K/N).

    ONE pass over the fact table (conditional agg) + a broadcast of the
    two global totals. p-values: ``enrichment_pvalues``.
    """
    g = F.col(flag_col).cast("int")
    # NOTE: Spark resolves column names case-insensitively by default, so the
    # textbook k/K/n/N naming would be self-ambiguous — use explicit names.
    per_group = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("set_size"),
        F.sum(g).cast("long").alias("overlap"),
    )
    totals = df.agg(
        F.count("*").cast("long").alias("pop_size"),
        F.sum(g).cast("long").alias("n_draws"),
    )
    out = per_group.crossJoin(F.broadcast(totals))
    fold = (F.col("overlap") / F.col("n_draws")) / (F.col("set_size") / F.col("pop_size"))
    return out.select(
        group_col,
        "overlap",
        "set_size",
        "n_draws",
        "pop_size",
        F.round(fold, 6).alias("fold_enrichment"),
    )


def enrichment_pvalues(contingency: DataFrame) -> DataFrame:
    """Hypergeometric over-representation p-value P(X >= k) appended to an
    ``enrichment_contingency`` table (Fisher one-sided — Enrichr's test)."""
    from vectordb_bioinsight_spark.session import ensure_package_on_executors

    ensure_package_on_executors(contingency.sparkSession)

    @F.pandas_udf(T.DoubleType())
    def _p(k, N, K, n):  # type: ignore[no-untyped-def]
        import pandas as pd

        from vectordb_bioinsight_spark.functions.special import hypergeom_sf

        # P(X >= k) = P(X > k-1)
        return pd.Series(
            hypergeom_sf(k.to_numpy() - 1, N.to_numpy(), K.to_numpy(), n.to_numpy())
        )

    return contingency.withColumn(
        "pvalue",
        _p(F.col("overlap"), F.col("pop_size"), F.col("set_size"), F.col("n_draws")),
    )


def variance_topk(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 20,
) -> DataFrame:
    """A13 highly-variable-gene selection: per-key sample variance, top-k
    (preprocessor.py:102-106 ``var(axis=1).nlargest``). One agg +
    TakeOrderedAndProject. Ties broken by key for determinism."""
    out = df.groupBy(*key_cols).agg(
        F.round(F.var_samp(F.col(value_col).cast("double")), 4).alias("variance"),
        F.count("*").cast("long").alias("n_obs"),
    )
    return out.orderBy(F.desc("variance"), *[F.asc(c) for c in key_cols]).limit(k)


def anova_f(
    df: DataFrame,
    key_cols: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """M9's HVG-selection alternative: one-way ANOVA F per key across ALL
    groups (preprocessor.py:124-267 uses ANOVA F for supervised feature
    selection). Closed form from per-(key, group) moments — two map-side-
    combinable aggregations, any number of groups.

    Output: (key..., k_groups, n_total, f_stat) — keys with <2 groups or
    zero within-group variance are dropped. p-values: ``anova_pvalues``.
    """
    v = F.col(value_col).cast("double")
    per_group = df.groupBy(*key_cols, group_col).agg(
        F.count("*").cast("double").alias("_n"),
        F.avg(v).alias("_mean"),
        F.coalesce(F.var_samp(v), F.lit(0.0)).alias("_var"),
    )
    agg = per_group.groupBy(*key_cols).agg(
        F.count("*").cast("double").alias("_k"),
        F.sum("_n").alias("_N"),
        (F.sum(F.col("_n") * F.col("_mean")) / F.sum("_n")).alias("_grand"),
        F.sum(F.col("_n") * F.col("_mean") * F.col("_mean")).alias("_sum_nm2"),
        F.sum((F.col("_n") - 1.0) * F.col("_var")).alias("_ssw"),
    )
    ssb = F.col("_sum_nm2") - F.col("_N") * F.col("_grand") * F.col("_grand")
    msb = ssb / (F.col("_k") - 1.0)
    msw = F.col("_ssw") / (F.col("_N") - F.col("_k"))
    return (
        agg.filter((F.col("_k") >= 2) & (F.col("_N") > F.col("_k")) & (F.col("_ssw") > 0))
        .select(
            *key_cols,
            F.col("_k").cast("long").alias("k_groups"),
            F.col("_N").cast("long").alias("n_total"),
            F.round(msb / msw, 6).alias("f_stat"),
        )
    )


def anova_pvalues(anova: DataFrame) -> DataFrame:
    """Exact F-distribution p-value appended to an ``anova_f`` table."""
    from vectordb_bioinsight_spark.session import ensure_package_on_executors

    ensure_package_on_executors(anova.sparkSession)

    @F.pandas_udf(T.DoubleType())
    def _p(f, k, n):  # type: ignore[no-untyped-def]
        import pandas as pd

        from vectordb_bioinsight_spark.functions.special import f_sf

        return pd.Series(
            f_sf(f.to_numpy(), k.to_numpy() - 1.0, n.to_numpy() - k.to_numpy())
        )

    return anova.withColumn(
        "pvalue", _p(F.col("f_stat"), F.col("k_groups").cast("double"), F.col("n_total").cast("double"))
    )


def winsorize_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization (percentile clipping) — the numeric-feature
    outlier treatment of the preprocessing tier (reference analog: the QC
    outlier gates of agent1_qc.py, generalized to any grouped metric).
    Values below the group's lo-quantile / above its hi-quantile are
    clamped to the quantile, the standard robust alternative to dropping.

    Bounds use the engine's exact lower-discrete quantile
    (:func:`~vectordb_bioinsight_spark.operators.relational.group_quantiles`)
    so results are engine-portable; at 100 TB swap in the sketch twin
    (``group_quantiles_approx``) — identical plan shape, no per-group sort.

    Physical plan: the bounds table is GROUP-cardinality (tiny by
    construction) -> explicit broadcast join back onto the fact scan; the
    only full-data shuffle is the rank window inside the exact-quantile
    fit, which the sketch twin removes entirely.

    Output: all input columns + ``<value>_w`` (clamped) + ``clipped``.
    """
    from vectordb_bioinsight_spark.operators.relational import group_quantiles

    keys = list(group_cols)
    # fit bounds on NON-NULL values only: NULLs in a rank window inflate n
    # and order differently across engines (Spark NULLS FIRST, SQL NULLS
    # LAST); NULL values pass through with NULL outputs
    fit = df.filter(F.col(value_col).isNotNull())
    bounds = group_quantiles(fit, keys, value_col, [lo, hi]).select(
        *keys,
        F.col(f"p{lo * 100:g}").alias("_lo"),
        F.col(f"p{hi * 100:g}").alias("_hi"),
    )
    v = F.col(value_col)
    # LEFT join: a group whose values are all NULL has no bounds row, but
    # its rows must survive with NULL outputs (the documented contract)
    return (
        df.join(F.broadcast(bounds), keys, "left")
        .withColumn(
            f"{value_col}_w",
            # greatest/least SKIP nulls (a NULL value would clamp to the
            # bound); gate explicitly so NULL in -> NULL out
            F.when(v.isNotNull(), F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))),
        )
        .withColumn("clipped", (v < F.col("_lo")) | (v > F.col("_hi")))
        .drop("_lo", "_hi")
    )


def robust_scale_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-group robust standardization: z = (x - median) / MAD, the
    outlier-insensitive twin of the min-max/z-score normalizers in
    operators/windows.py (reference analog: the scale step of the ML
    preprocessing tier, ml/preprocessor.py's scaler choice).

    Median and MAD (median absolute deviation) use the engine's exact
    lower-discrete quantile rule so the result is engine-portable; at
    100 TB both passes swap to ``group_quantiles_approx`` (same shape,
    GK sketch, no per-group sort).

    Physical plan: quantile pass 1 (median) -> broadcast GROUP-cardinality
    bounds back -> quantile pass 2 over the derived |x - med| -> broadcast
    again. Two rank-window shuffles total, both removable via the sketch
    twin; the fact table is never shuffled.

    Output: all input columns + ``_med``, ``_mad``, ``robust_z``
    (NULL when MAD = 0 — degenerate group, caller decides).
    """
    from vectordb_bioinsight_spark.operators.relational import group_quantiles

    keys = list(group_cols)
    v = F.col(value_col)
    fit = df.filter(v.isNotNull())  # same NULL discipline as winsorize
    med = group_quantiles(fit, keys, value_col, [0.5]).select(
        *keys, F.col("p50").alias("_med")
    )
    # LEFT joins: all-NULL groups fit no median/MAD but keep their rows
    # with NULL robust_z (same contract as winsorize_by_group)
    j = df.join(F.broadcast(med), keys, "left").withColumn(
        "_absdev", F.abs(v - F.col("_med"))
    )
    mad = group_quantiles(j.filter(F.col("_absdev").isNotNull()), keys, "_absdev", [0.5]).select(
        *keys, F.col("p50").alias("_mad")
    )
    return (
        j.drop("_absdev")
        .join(F.broadcast(mad), keys, "left")
        .withColumn(
            "robust_z",
            F.round((v - F.col("_med")) / F.nullif(F.col("_mad"), F.lit(0.0)), 6),
        )
    )


def quantile_normalize(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
) -> DataFrame:
    """Quantile normalization — make every sample's value distribution
    identical (the limma/affy `normalizeQuantiles` step of bulk expression
    pipelines; reference analog: the normalization stage of
    agent1_deg.py's preprocessing): rank values within each sample,
    replace each value with the cross-sample MEAN of the values holding
    that rank.

    Ties take deterministic ranks (ordered by value, then feature id) —
    the dense exact variant; limma's tie-averaging is a smoothing knob on
    the same plan. Samples of unequal size contribute to the ranks they
    have (the standard generalization).

    Physical plan: ONE per-sample rank window (the only full shuffle), a
    rank-keyed mean (bounded by the largest sample's row count,
    map-side combinable), and an equi-join back on rank — AQE broadcasts
    it when the rank table is small.

    Output: (sample, feature, value, qnorm), qnorm rounded 6 dp.
    """
    w = Window.partitionBy(sample_col).orderBy(
        F.col(value_col).asc(), F.col(feature_col).asc()
    )
    # NULL values are dropped (nothing to rank; engines also disagree on
    # NULL ordering inside rank windows — same discipline as winsorize)
    ranked = (
        df.select(sample_col, feature_col, value_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("_r", F.row_number().over(w))
    )
    ref = ranked.groupBy("_r").agg(F.avg(value_col).alias("_ref"))
    return ranked.join(ref, "_r").select(
        sample_col,
        feature_col,
        value_col,
        F.round("_ref", 6).alias("qnorm"),
    )


def gsea_prerank_es(
    ranked: DataFrame,
    gene_col: str,
    stat_col: str,
    membership: DataFrame,
    set_col: str,
) -> DataFrame:
    """Preranked GSEA enrichment score (Subramanian et al. 2005, the
    weighted p=1 statistic gseapy's ``prerank`` computes — reference runs
    gseapy at agent3_pathway.py:148-202 / agent_singlecell.py:2068): walk
    the stat-ranked gene list; set members add |stat|/N_R, non-members
    subtract 1/(N - N_S); ES is the signed running-sum value of maximum
    magnitude (earliest rank on ties).

    Inputs: ``ranked`` (gene, stat) — one row per gene; ``membership``
    (set, gene) pairs, the gene-set dimension.

    Physical plan: the (set x gene) walk grid is built by crossJoin with
    the SET-ID dimension (broadcast — gene sets are dimension-scale) and
    a membership left-join flag; every per-set constant (N, N_S, N_R) is
    an unordered window over the set partition, the running sum is the
    ordered window, and the peak is one rank filter. ONE shuffle on the
    set key carries the whole computation; nothing driver-side.

    Output: (set, n_genes, n_hits, es, rank_at_peak), es rounded 6 dp.
    """
    from pyspark.sql import Window

    g = ranked.select(
        F.col(gene_col).alias("_gene"),
        F.col(stat_col).cast("double").alias("_stat"),
    )
    rank_w = Window.orderBy(F.desc("_stat"), F.asc("_gene"))
    g = g.withColumn("_rank", F.row_number().over(rank_w))
    sets = membership.select(
        F.col(set_col).alias("_set"), F.col(gene_col).alias("_gene")
    ).distinct()
    set_ids = sets.select("_set").distinct()
    grid = (
        g.crossJoin(F.broadcast(set_ids))
        .join(sets.withColumn("_hit", F.lit(1)), ["_set", "_gene"], "left")
        .withColumn("_hit", F.coalesce(F.col("_hit"), F.lit(0)))
    )
    part = Window.partitionBy("_set")
    walk = Window.partitionBy("_set").orderBy("_rank")
    n = F.count("*").over(part)
    n_s = F.sum("_hit").over(part)
    n_r = F.sum(F.abs(F.col("_stat")) * F.col("_hit")).over(part)
    step = F.when(
        F.col("_hit") == 1, F.abs(F.col("_stat")) / F.nullif(n_r, F.lit(0.0))
    ).otherwise(-1.0 / F.nullif((n - n_s).cast("double"), F.lit(0.0)))
    run = F.round(F.sum(step).over(walk), 6)
    peak_w = Window.partitionBy("_set").orderBy(F.desc(F.abs(F.col("_run"))), F.asc("_rank"))
    # per-set constants become COLUMNS before the peak filter — a window
    # evaluated after the filter would see the one surviving row
    walked = (
        grid.withColumn("_n", n)
        .withColumn("_ns", n_s)
        .withColumn("_run", run)
    )
    return (
        walked.withColumn("_pk", F.row_number().over(peak_w))
        .filter(F.col("_pk") == 1)
        .select(
            F.col("_set").alias(set_col),
            F.col("_n").cast("long").alias("n_genes"),
            F.col("_ns").cast("long").alias("n_hits"),
            F.col("_run").alias("es"),
            F.col("_rank").cast("long").alias("rank_at_peak"),
        )
    )


def gsea_prerank_es_scaled(
    ranked: DataFrame,
    gene_col: str,
    stat_col: str,
    membership: DataFrame,
    set_col: str,
    num_partitions: int = 32,
) -> DataFrame:
    """:func:`gsea_prerank_es` re-derived for scale — same statistic, two
    structural fixes (SCALING.md rule: compress provably-redundant walks):

    1. the global stat rank uses :func:`~vectordb_bioinsight_spark.operators
       .windows.scaled_row_number` (range-repartition two-phase rank) instead
       of the single-partition ``Window.orderBy`` — parallel at any N;
    2. the N x S walk grid disappears: between two member rows the running
       sum decays by a CONSTANT miss step, so its extremes provably occur
       adjacent to member rows (at a hit, just before a hit, or at the very
       end). Candidates are therefore computed from the MEMBERSHIP rows
       only — |membership| rows shuffled on the set key, never N x S.

    Exact equivalence with the fixed version is test-pinned, with one
    documented half-ulp boundary: when an intermediate miss row ROUNDS to
    exactly the peak magnitude (6 dp), ``rank_at_peak`` may differ while
    ``es`` itself is identical.

    Output: (set, n_genes, n_hits, es, rank_at_peak) — same contract.
    """
    from vectordb_bioinsight_spark.operators.windows import (
        scaled_row_number_with_total,
    )

    from pyspark.sql import Window

    g = ranked.select(
        F.col(gene_col).alias("_gene"),
        F.col(stat_col).cast("double").alias("_stat"),
    )
    ranks, n_total = scaled_row_number_with_total(
        g, [F.desc("_stat"), F.asc("_gene")], "_rank", num_partitions
    )
    sets = membership.select(
        F.col(set_col).alias("_set"), F.col(gene_col).alias("_gene")
    ).distinct()
    hits = ranks.join(sets, "_gene")  # one shuffle on gene, |membership| rows

    part = Window.partitionBy("_set")
    walk = Window.partitionBy("_set").orderBy("_rank")
    n_s = F.count("*").over(part)
    n_r = F.sum(F.abs(F.col("_stat"))).over(part)
    # coalesce: when EVERY ranked gene is a member (N == N_S) no miss row
    # exists, so the step is always multiplied by zero — 0 * NULL would
    # poison the sum, 0 * 0.0 is the intended no-op
    miss = F.coalesce(
        -1.0 / F.nullif((F.lit(n_total) - n_s).cast("double"), F.lit(0.0)),
        F.lit(0.0),
    )
    contrib = F.coalesce(
        F.abs(F.col("_stat")) / F.nullif(n_r, F.lit(0.0)), F.lit(0.0)
    )
    i = F.row_number().over(walk)
    h = F.sum(contrib).over(walk)
    scored = hits.select(
        "_set",
        "_rank",
        n_s.alias("_ns"),
        i.alias("_i"),
        h.alias("_h"),
        contrib.alias("_c"),
        miss.alias("_m"),
    )
    # candidate values: AT hit i, just BEFORE hit i (when a miss precedes
    # it), and the walk's final row (the post-last-hit tail minimum).
    # All three are emitted from ONE pass over the hit rows as a
    # conditional array (the tail candidate rides on the LAST hit row,
    # where _i == _ns) — a 3-way unionByName here would re-run the join +
    # both windows once per branch.
    decay = F.col("_h") + (F.col("_rank") - F.col("_i")) * F.col("_m")
    at_hit_c = F.struct(
        F.col("_rank").alias("_crank"), F.round(decay, 6).alias("_val")
    )
    before_hit_c = F.when(
        F.col("_rank") > 1,
        F.struct(
            (F.col("_rank") - 1).alias("_crank"),
            F.round(decay - F.col("_c"), 6).alias("_val"),
        ),
    )
    tail_c = F.when(
        (F.col("_i") == F.col("_ns")) & (F.col("_rank") < n_total),
        F.struct(
            F.lit(n_total).cast("long").alias("_crank"),
            F.round(
                F.col("_h")
                + (F.lit(n_total) - F.col("_ns")).cast("double") * F.col("_m"),
                6,
            ).alias("_val"),
        ),
    )
    cands = scored.select(
        "_set",
        "_ns",
        F.explode(
            F.filter(
                F.array(at_hit_c, before_hit_c, tail_c), lambda c: c.isNotNull()
            )
        ).alias("_cand"),
    ).select("_set", "_ns", F.col("_cand._crank").alias("_crank"), F.col("_cand._val").alias("_val"))
    best = cands.groupBy("_set").agg(
        F.max(
            F.struct(
                F.abs(F.col("_val")).alias("a"),
                (-F.col("_crank")).alias("nr"),
                F.col("_val").alias("v"),
                F.col("_crank").alias("r"),
            )
        ).alias("_b"),
        F.max("_ns").alias("_nsf"),
    )
    with_hits = best.select(
        F.col("_set").alias(set_col),
        F.lit(n_total).cast("long").alias("n_genes"),
        F.col("_nsf").cast("long").alias("n_hits"),
        F.col("_b.v").alias("es"),
        F.col("_b.r").cast("long").alias("rank_at_peak"),
    )
    # sets whose members all miss the ranked list: pure-miss walk, run
    # decays monotonically to -1 at rank N (the fixed version emits these
    # from its set-id cross join)
    no_hit = (
        membership.select(F.col(set_col).alias("_set")).distinct()
        .join(sets.join(ranks, "_gene").select("_set").distinct(), "_set", "left_anti")
        .select(
            F.col("_set").alias(set_col),
            F.lit(n_total).cast("long").alias("n_genes"),
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(-1.0).alias("es"),
            F.lit(n_total).cast("long").alias("rank_at_peak"),
        )
    )
    return with_hits.unionByName(no_hit)


def kruskal_wallis(
    df: DataFrame,
    key_cols: Sequence[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Kruskal-Wallis H (k-group rank test with tie correction) —
    the nonparametric companion of the ANOVA-F kernel (reference analog:
    the distribution-free alternative scanpy offers where
    rank_genes_groups uses wilcoxon, generalized to k groups):

        H = [ 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) ] / C,
        C = 1 - sum(t^3 - t) / (N^3 - N).

    Same scale discipline as :func:`wilcoxon_rank_sum`: tie groups are
    aggregated FIRST, so the rank window runs over distinct values per
    key — never raw rows — and average ranks come from one running-sum
    window. The only joins are key-co-partitioned aggregates.

    Output: (key..., n, k_groups, h_stat) rounded 6 dp; keys where every
    value is tied (C = 0) are dropped.
    """
    keys = list(key_cols)
    v = F.col(value_col).cast("double")
    vg = df.groupBy(*keys, v.alias("_v"), F.col(group_col).alias("_g")).agg(
        F.count("*").cast("double").alias("_c")
    )
    tied = vg.groupBy(*keys, "_v").agg(F.sum("_c").alias("_t"))
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = tied.withColumn(
        "_avg_r",
        F.coalesce(F.sum("_t").over(w_cum), F.lit(0.0)) + (F.col("_t") + 1.0) / 2.0,
    )
    merged = vg.join(ranked.select(*keys, "_v", "_avg_r"), [*keys, "_v"])
    per_group = merged.groupBy(*keys, "_g").agg(
        F.sum("_c").alias("_ng"), F.sum(F.col("_c") * F.col("_avg_r")).alias("_rg")
    )
    stats = per_group.groupBy(*keys).agg(
        F.sum("_ng").alias("_n"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum(F.col("_rg") * F.col("_rg") / F.col("_ng")).alias("_s"),
    )
    ties = ranked.groupBy(*keys).agg(
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")).alias("_tie")
    )
    n = F.col("_n")
    c = 1.0 - F.col("_tie") / F.nullif(n * n * n - n, F.lit(0.0))
    h = (12.0 / (n * (n + 1.0)) * F.col("_s") - 3.0 * (n + 1.0)) / F.nullif(c, F.lit(0.0))
    return (
        stats.join(ties, keys)
        .select(*keys, n.cast("long").alias("n"), "k_groups", F.round(h, 6).alias("h_stat"))
        .filter(F.col("h_stat").isNotNull())
    )


def reference_quantile_map(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    ref: DataFrame,
    rank_col: str = "rank",
    ref_col: str = "ref_q",
) -> DataFrame:
    """Domain adaptation by reference-quantile mapping
    (``rnaseq_pipeline/ml/domain_adapter.py:131-171``,
    ``DomainAdapter._quantile_normalize``): within each sample, rank the
    values (``np.argsort(np.argsort(x))``; ties pinned by feature id —
    the reference's unstable quicksort order is unreplayable) and replace
    each value with the REFERENCE quantile holding that rank, forcing
    every sample onto the stored TCGA distribution. Differs from
    :func:`quantile_normalize` (limma variant), which targets the
    cross-sample mean instead of a fixed reference vector.

    ``ref`` is the (rank, quantile) dimension — model-KB-scale, so the
    rank join broadcasts. One per-sample rank window is the only
    corpus-sized shuffle.
    """
    w = Window.partitionBy(sample_col).orderBy(
        F.col(value_col).asc(), F.col(feature_col).asc()
    )
    ranked = (
        df.select(sample_col, feature_col, value_col)
        .filter(F.col(value_col).isNotNull())
        .withColumn("_r", F.row_number().over(w))
    )
    dim = F.broadcast(
        ref.select(F.col(rank_col).alias("_r"), F.col(ref_col).alias("_q"))
    )
    return ranked.join(dim, "_r").select(
        sample_col,
        feature_col,
        value_col,
        F.round("_q", 6).alias("adapted"),
    )


def zscore_recalibrate(
    df: DataFrame,
    value_col: str,
    target_mean: float = 0.0,
    target_std: float = 0.8,
    out_col: str = "recalibrated",
    exact_moments: bool = False,
) -> DataFrame:
    """Domain adaptation by global z-score recalibration
    (``domain_adapter.py:172-198``, ``DomainAdapter._zscore_recalibrate``):
    shift and scale the WHOLE matrix so its global mean/std match the
    reference stats (TCGA post-StandardScaler: mean 0, std 0.8). The
    current stats use population std (numpy ``.std()`` is ddof=0); the
    std=0 degenerate branch shifts only. One 1-row global aggregate,
    broadcast back — no second corpus shuffle.

    ``exact_moments=True`` computes the std as sqrt(E[x^2] - mu^2) from
    plain sums instead of the Welford-streaming ``stddev_pop`` — for
    integer-valued inputs below 2^53 those sums are EXACT in any
    accumulation order, making the rounded output partitioning- and
    engine-independent (SCALING rule 44); the default keeps the
    numerically-stabler Welford form for real-valued corpora.
    """
    if exact_moments:
        v = F.col(value_col)
        stats = df.agg(
            F.sum(v).alias("_s1"), F.sum(v * v).alias("_s2"),
            F.count(value_col).alias("_n"),
        ).select(
            (F.col("_s1") / F.col("_n")).alias("_mu"),
            F.sqrt(
                F.col("_s2") / F.col("_n")
                - (F.col("_s1") / F.col("_n")) * (F.col("_s1") / F.col("_n"))
            ).alias("_sd"),
        )
    else:
        stats = df.agg(
            F.avg(value_col).alias("_mu"),
            F.stddev_pop(value_col).alias("_sd"),
        )
    out = df.join(F.broadcast(stats))
    adapted = F.when(
        F.col("_sd") > 0,
        (F.col(value_col) - F.col("_mu")) / F.col("_sd") * target_std + target_mean,
    ).otherwise(F.col(value_col) - F.col("_mu") + target_mean)
    return out.withColumn(out_col, F.round(adapted, 6)).drop("_mu", "_sd")


def rowwise_zscore_matrix(
    long_df: DataFrame,
    row_col: str,
    col_col: str,
    value_col: str,
    eps: float = 1e-10,
) -> DataFrame:
    """Row-wise z-score normalization of a long-format matrix — the
    expression-heatmap data contract (agent5_visualization.py:558:
    ``(x - x.mean()) / (x.std() + 1e-10)`` per gene row, the npj heatmap's
    color values). Long format per the §1.1 melt discipline: the matrix is
    never pivoted wide; a bounded consumer pivots at the edge.

    Physical plan: one row-keyed moment agg (map-side combinable) +
    broadcast back onto the cells — no window, no pivot, linear in cells.

    Output: (row, col, value, zscore) with zscore rounded 6 dp; a
    constant row z-scores to ~0 via the reference's epsilon, not NULL.
    """
    stats_tbl = long_df.groupBy(F.col(row_col).alias("_r")).agg(
        F.avg(value_col).alias("_mean"),
        F.coalesce(F.stddev_samp(value_col), F.lit(0.0)).alias("_std"),
    )
    return (
        long_df.join(
            F.broadcast(stats_tbl), F.col(row_col) == F.col("_r")
        )
        .select(
            row_col,
            col_col,
            value_col,
            F.round(
                (F.col(value_col) - F.col("_mean")) / (F.col("_std") + F.lit(eps)), 6
            ).alias("zscore"),
        )
    )


def ab_test_summary(
    df: DataFrame,
    arm_col: str,
    converted_col: str,
) -> DataFrame:
    """Two-proportion A/B test: per-arm conversion counts/rates plus the
    pooled two-sided z statistic (the launch/no-launch arithmetic every
    experimentation platform runs). One conditional aggregation — the
    pooled z is closed-form over the four counts, JVM-side.

    Expects exactly two arm labels; the z row repeats per arm (the ledger
    stays one-row-per-arm for the comparator). Output: (arm, n, n_converted,
    rate, z_stat) rounded 6 dp; z is NULL when either arm is empty or the
    pooled rate is degenerate (0 or 1 — no variance, nullif guard)."""
    per_arm = df.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col(converted_col).cast("long")).cast("long").alias("n_converted"),
    )
    wide = per_arm.agg(
        F.min_by(F.struct("n", "n_converted"), "arm").alias("a"),
        F.max_by(F.struct("n", "n_converted"), "arm").alias("b"),
    )
    n1, c1 = F.col("a.n"), F.col("a.n_converted")
    n2, c2 = F.col("b.n"), F.col("b.n_converted")
    pooled = (c1 + c2) / (n1 + n2)
    se = F.sqrt(pooled * (1 - pooled) * (1.0 / n1 + 1.0 / n2))
    z = ((c1 / n1) - (c2 / n2)) / F.nullif(se, F.lit(0.0))
    zed = wide.select(F.round(z, 6).alias("z_stat"))
    return per_arm.crossJoin(F.broadcast(zed)).select(
        "arm",
        "n",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n"), 6).alias("rate"),
        "z_stat",
    )


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    drift: float = 0.5,
    threshold: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM change-point detection over per-key daily totals —
    the mean-SHIFT detector complementing :func:`trends.rolling_anomalies`
    (a z-score flags one odd day; CUSUM accumulates small persistent
    drifts until the cumulative evidence crosses the threshold):

        z_i  = (total_i - mean) / std         (key-global standardization)
        s+_i = max(0, s+_{i-1} + z_i - drift)
        s-_i = max(0, s-_{i-1} - z_i - drift)
        alarm at day i iff s+ or s- > threshold

    Sequential recursion -> the same fold shape as Holt: sort-collect the
    series per key, ``F.aggregate`` with an array-accumulating state, one
    corpus shuffle, no driver loop. Standardization is exact (one agg,
    broadcast back). Flat series (std = 0) standardize to NULL and never
    alarm (ANSI-safe nullif). Rows-only vs SQL by design (the growing
    accumulator has no list_reduce twin); semantics pinned by a
    pure-python oracle test.

    Output: (key, day, total, s_plus, s_minus, alarm) rounded 4 dp.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    stats = daily.groupBy("key").agg(
        F.avg("total").alias("_m"), F.stddev_samp("total").alias("_s")
    )
    z = (F.col("total") - F.col("_m")) / F.nullif(F.col("_s"), F.lit(0.0))
    per_key = (
        daily.join(F.broadcast(stats), "key")
        .withColumn("_z", z)
        .groupBy("key")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "total", "_z"))).alias("ser")
        )
    )
    d, h = float(drift), float(threshold)
    zero = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sm"),
        F.array().cast(
            "array<struct<day:date,total:double,sp:double,sm:double,alarm:boolean>>"
        ).alias("out"),
    )

    def _step(acc, e):
        zi = F.coalesce(e["_z"], F.lit(0.0))
        sp = F.greatest(F.lit(0.0), acc["sp"] + zi - d)
        sm = F.greatest(F.lit(0.0), acc["sm"] - zi - d)
        row = F.struct(
            e["day"].alias("day"),
            e["total"].alias("total"),
            sp.alias("sp"),
            sm.alias("sm"),
            ((sp > h) | (sm > h)).alias("alarm"),
        )
        return F.struct(
            sp.alias("sp"), sm.alias("sm"),
            F.array_append(acc["out"], row).alias("out"),
        )

    folded = per_key.select(
        "key", F.aggregate("ser", zero, _step, lambda acc: acc["out"]).alias("out")
    )
    r = folded.select("key", F.explode("out").alias("r"))
    return r.select(
        "key",
        F.col("r.day").alias("day"),
        F.col("r.total").alias("total"),
        F.round("r.sp", 4).alias("s_plus"),
        F.round("r.sm", 4).alias("s_minus"),
        F.col("r.alarm").alias("alarm"),
    )


#: inverse-CDF thresholds for Poisson(1): P(X <= k) for k = 0..6 — a
#: uniform u maps to the smallest k with u < cdf(k). Shared verbatim by
#: the DuckDB twin (POISSON_CDF_SQL below).
_POISSON1_CDF = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119,
)


def _poisson1_weight(u):  # noqa: ANN001, ANN202 — Column in, Column out
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < _POISSON1_CDF[k], F.lit(k)).otherwise(w)
    return w


def _poisson1_weights_arrow(id_str_col, seed: int, n_replicates: int):  # noqa: ANN001
    """All ``n_replicates`` Poisson(1) bootstrap weights for one id as an
    Arrow-batched array<double> — byte-identical to ``n_replicates``
    :func:`_poisson1_weight`(:func:`salted_hash64`) column expressions
    (python hashlib md5 == Spark md5; the int is < 2^60 so the double
    division rounds identically; bisect_right == the strict-< when
    ladder; a NULL id yields the ladder's fall-through weight,
    empirically pinned in tests).

    Why a kernel and not 50 expressions: the expression form's weight
    projection FUSES into the upstream keyed aggregate's generated
    output method, which blows janino's 64 KB method limit at 50
    replicates and drops the ENTIRE stage (including the corpus-sized
    event aggregation) out of codegen — caught by the r08 sweep error
    log; the fused stage then ran interpreted at 7.3 s where ~2 s is
    normal. The kernel also evaluates each md5 chain once in C."""
    import hashlib
    from bisect import bisect_right

    salts = [f"{seed * 1000 + j}|" for j in range(n_replicates)]
    scale = float(1 << 60)
    cdf = _POISSON1_CDF
    null_w = float(len(cdf))

    def one(s):
        if s is None:
            return [null_w] * len(salts)
        out = []
        for salt in salts:
            h = int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16)
            out.append(float(bisect_right(cdf, h / scale)))
        return out

    def _f(*cols):  # no type hints: postponed annotations break
        (ids,) = cols  # pandas_udf's hint inference under __future__
        return ids.map(one)

    return F.pandas_udf(_f, "array<double>")(id_str_col)


def bootstrap_rate_ci(
    df: DataFrame,
    converted_col: str,
    id_col: str,
    n_replicates: int = 50,
    alpha: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Percentile bootstrap CI for a conversion rate in ONE pass — the
    Poisson bootstrap, the distributed-systems standard: instead of
    resampling rows with replacement (which needs global coordination),
    each row enters replicate j with a Poisson(1) multiplicity derived
    from the portable hash of (id, j, seed). All ``n_replicates``
    weighted rates are conditional sums inside a single aggregation —
    no explode, no shuffle beyond the final single-row agg — and the
    percentile envelope sorts the replicate array IN the plan.

    Everything is hash-deterministic (md5-uniform -> inverse-CDF
    weights), so the interval itself is hash-oracle-able — rare for a
    resampling method. Percentile convention: lo = replicate at index
    ceil(alpha/2 * B), hi = at ceil((1-alpha/2) * B), 1-based on the
    sorted array (deterministic, no interpolation).

    Cost note: the md5-based portable hash is what buys the DuckDB twin;
    it is also the dominant per-row cost (~B md5 chains per row — probe:
    ~5 s at 150k rows x 50 replicates on local[32]). At extreme row
    counts bootstrap the per-partition AGGREGATES (sums/counts per
    partition, then resample partitions) or swap in ``F.xxhash64`` for
    the weight hash and accept a rows-only oracle.

    Output: one row (n, rate, ci_lo, ci_hi, n_replicates) rounded 6 dp.
    """
    y = F.col(converted_col).cast("double")
    # ONE Arrow kernel emits all replicate weights as an array (each md5
    # chain evaluated once; see _poisson1_weights_arrow for why the
    # 50-expression form is a codegen trap)
    proj = df.select(
        y.alias("_y"),
        _poisson1_weights_arrow(
            F.col(id_col).cast("string"), seed, n_replicates
        ).alias("_ws"),
    )
    aggs = [
        F.count("*").cast("long").alias("_n"),
        F.round(F.avg("_y"), 6).alias("rate"),
    ]
    for j in range(n_replicates):
        w = F.element_at(F.col("_ws"), j + 1)
        aggs.append(
            (F.sum(w * F.col("_y")) / F.nullif(F.sum(w), F.lit(0.0))).alias(f"_r{j}")
        )
    one = proj.agg(*aggs)
    reps = F.array_sort(F.array(*[F.col(f"_r{j}") for j in range(n_replicates)]))
    lo_idx = max(1, int(-(-(alpha / 2 * n_replicates) // 1)))
    hi_idx = min(n_replicates, int(-(-((1 - alpha / 2) * n_replicates) // 1)))
    return one.select(
        F.col("_n").alias("n"),
        "rate",
        F.round(F.element_at(reps, lo_idx), 6).alias("ci_lo"),
        F.round(F.element_at(reps, hi_idx), 6).alias("ci_hi"),
        F.lit(n_replicates).alias("n_replicates"),
    )
