"""Deterministic sampling & splitting — the training-data-pipeline tier.

RNG sampling (``df.sample``/``sampleBy``) is irreproducible across engines,
re-runs with different partitioning, and retries after task failure. Large
pipelines therefore sample by HASH: a row is in the sample iff
``H(key) mod D < k`` — stable under repartitioning, incremental (new data
samples consistently), and oracle-checkable (the hash is the engine's
portable md5-derived 60-bit integer, recomputable in DuckDB/Python).

The reference's closest analogs: seeded subsampling throughout
(``np.random.seed(42)``, tests/conftest.py:32) and the leak-free
group-aware ML split (``GroupShuffleSplit``, ml/preprocessor.py:124-267) —
both re-expressed here as hash discipline instead of RNG state.

Scale notes: every operator is one scan + one JVM-side hash per row — no
shuffle, no sort, no driver state; stratified rates ride the same scan as
a broadcast-joined rate map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.hashing import portable_hash64, salted_hash64

#: hash-space modulus used for rate arithmetic: rates are k/DENOM
DENOM = 10_000


def _bucket(col: Column | str, salt: int) -> Column:
    return F.pmod(salted_hash64(col, salt), F.lit(DENOM))


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: int = 0,
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided by the key's hash bucket.

    Deterministic: the same key is always in or out, across runs, engines,
    partitionings, and data increments. ``salt`` decorrelates independent
    samples over the same keys.
    """
    k = int(round(fraction * DENOM))
    return df.filter(_bucket(F.col(key_col).cast("string"), salt) < k)


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy``'s reproducible twin).

    The rate map is a broadcast-joined dimension, so rates can come from a
    computed DataFrame at scale (e.g. inverse-frequency rebalancing of a
    skewed source mix) without changing the plan shape.
    """
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(s, int(round(f * DENOM))) for s, f in fractions.items()],
        [strata_col, "_k"],
    )
    joined = df.join(F.broadcast(rates), strata_col, "left")
    k = F.coalesce(F.col("_k"), F.lit(int(round(default_fraction * DENOM))))
    return joined.filter(_bucket(F.col(key_col).cast("string"), salt) < k).drop("_k")


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: list[float],
    split_names: list[str] | None = None,
    salt: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split by key hash (M9's leak-free split
    discipline: all rows of one key land in ONE split, so grouped entities —
    patients, documents, sessions — never straddle train/test).

    ``weights`` are normalized; output adds ``out_col`` with the split name.
    """
    total = float(sum(weights))
    names = split_names or [f"split_{i}" for i in range(len(weights))]
    if len(names) != len(weights):
        raise ValueError("split_names must match weights")
    bucket = _bucket(F.col(key_col).cast("string"), salt)
    acc = 0.0
    expr = None
    for name, w in zip(names, weights):
        acc += w / total * DENOM
        cond = bucket < int(round(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # numeric edge: ensure the last bucket always lands in the final split
    expr = expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def reservoir_per_group(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    n_per_group: int,
    salt: int = 0,
) -> DataFrame:
    """Deterministic "reservoir": the n smallest hash values per group — a
    uniform-without-replacement fixed-size sample per group, stable across
    runs (the classic bottom-k sketch). One shuffle on the group key; per-
    partition top-k heaps via window rank over the hash order.
    """
    from pyspark.sql import Window

    h = salted_hash64(F.col(key_col).cast("string"), salt)
    w = Window.partitionBy(*group_cols).orderBy(F.asc("_h"), F.asc(key_col))
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .drop("_h", "_rn")
    )


def sample_rate_check(sampled: DataFrame, total_rows: int, fraction: float) -> DataFrame:
    """Monitoring aggregate for a hash sample: 1-row frame with
    ``rate_ratio`` = observed / expected = count(sampled) / (total_rows ·
    fraction). Ratios far from 1.0 mean the sample keys are non-unique or
    skewed (a hash sample is exact only over distinct keys)."""
    if total_rows <= 0 or fraction <= 0:
        raise ValueError("total_rows and fraction must be positive")
    return sampled.agg(
        (F.count("*") / F.lit(float(total_rows) * float(fraction))).alias("rate_ratio")
    )


def perplexity_bucket_select(
    scored: DataFrame,
    group_col: str,
    ppl_col: str,
    id_col: str,
    n_buckets: int = 3,
    keep_buckets: int = 2,
) -> DataFrame:
    """CCNet-style perplexity bucketing: within each group (language, in
    CCNet's recipe), rank documents by LM perplexity and split them into
    ``n_buckets`` equal-size tiers (head / middle / tail for the classic
    3); keep the lowest-perplexity ``keep_buckets`` tiers.

    Low perplexity under a corpus-fitted LM ≈ fluent in-distribution text;
    the tail tier is where boilerplate, markup soup and wrong-language
    spill concentrate. CCNet keeps head+middle by default — so do we.

    Ties are broken by id, making the tier assignment a TOTAL order —
    deterministic across engines, partitionings and re-runs (ntile over a
    non-total order is not).

    Output: input columns + ``(ppl_bucket, kept)``. Scale: one ntile
    window partitioned by the group key — the same single shuffle any
    per-group quantile needs; no global sort, no driver state.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(ppl_col).asc(), F.col(id_col).asc()
    )
    return scored.withColumn("ppl_bucket", F.ntile(n_buckets).over(w)).withColumn(
        "kept", F.col("ppl_bucket") <= keep_buckets
    )


def quality_quota(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    n_per_group: int,
) -> DataFrame:
    """Per-domain quality quota: keep the top ``n_per_group`` rows of each
    group by score (ties broken by id — total order, deterministic). The
    budgeted-corpus counterpart to fractional stratified sampling: every
    domain contributes AT MOST n docs, and they are its best ones.

    Scale: one rank window partitioned by the group key — the shuffle a
    per-group selection needs anyway; no global ordering anywhere.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_qr", F.row_number().over(w))
        .filter(F.col("_qr") <= n_per_group)
        .drop("_qr")
    )


def weighted_hash_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int, salt: int = 11
) -> DataFrame:
    """Weighted sampling without replacement, derandomized — the
    Efraimidis-Spirakis (2006) A-ES scheme with hash-derived uniforms:
    u = (H(salt|id)+1) / 2^60 in (0,1], priority key = ln(u)/w (the
    monotone log form of u^(1/w)), and the k LARGEST keys are the sample.
    Inclusion probability is proportional to weight, yet the draw is a
    pure function of (id, salt) — stable under repartitioning, retries,
    and engines, like every sampler in this module.

    The pipeline use: length-weighted or quality-weighted corpus
    subsampling ("sample 1M docs proportional to token count") without
    RNG state.

    Plan: one scan-local projection + orderBy(key).limit(k) ->
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Rows with weight <= 0 are excluded (A-ES domain).

    Output: input columns + ``es_key`` (rounded 6 dp; ties break on id).
    """
    u = (salted_hash64(F.col(id_col).cast("string"), salt) + 1) / F.lit(float(1 << 60))
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", key)
        .orderBy(F.desc("es_key"), F.asc(id_col))
        .limit(k)
    )


def neyman_allocation(
    df: DataFrame,
    stratum_cols: "list[str]",
    value_col: str,
    n_total: int,
) -> DataFrame:
    """Neyman-optimal stratified allocation (Neyman 1934): split a
    sampling budget across strata proportionally to N_h * S_h — the
    allocation that minimizes the variance of the stratified mean for a
    fixed budget, vs plain proportional N_h. The eval-set construction
    question ("how many docs per source should the human-review sample
    take?") answered with the survey-sampling optimum.

    n_h = round(n_total * N_h S_h / sum(N_h S_h)), capped at N_h and
    floored at 1 for non-degenerate strata (every stratum stays
    auditable); a single-row stratum has S_h = 0 under stddev_samp and
    still gets its floor seat. Rounding can leave the realized total a
    few seats off n_total — reported, not silently rebalanced.

    One map-side-combinable aggregation; the output is the
    stratum-cardinality allocation table to feed
    :func:`sample_by_allocation`.

    Output: (stratum..., n_rows, std, n_alloc) — std rounded 6 dp.
    """
    if n_total <= 0:
        raise ValueError("n_total must be > 0")
    per = df.groupBy(*stratum_cols).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(F.stddev_samp(F.col(value_col).cast("double")), F.lit(0.0)).alias(
            "_s"
        ),
    )
    tot = per.agg(F.sum(F.col("n_rows") * F.col("_s")).alias("_t"))
    alloc = (
        per.join(F.broadcast(tot))
        .withColumn(
            "n_alloc",
            F.least(
                F.greatest(
                    F.round(
                        F.lit(float(n_total))
                        * F.col("n_rows")
                        * F.col("_s")
                        / F.nullif(F.col("_t"), F.lit(0.0)),
                        0,
                    ).cast("long"),
                    F.lit(1).cast("long"),
                ),
                F.col("n_rows"),
            ),
        )
        .select(
            *stratum_cols,
            "n_rows",
            F.round("_s", 6).alias("std"),
            F.coalesce("n_alloc", F.lit(1).cast("long")).alias("n_alloc"),
        )
    )
    return alloc


def sample_by_allocation(
    df: DataFrame,
    allocation: DataFrame,
    stratum_cols: "list[str]",
    key_col: str,
    salt: int = 0,
) -> DataFrame:
    """Draw the per-stratum sample sizes an allocation table dictates
    (:func:`neyman_allocation` or any (stratum..., n_alloc) frame) with
    the deterministic bottom-k-hash draw of :func:`reservoir_per_group`
    — stable across runs, engines, and repartitioning. One broadcast
    join + one stratum-keyed rank window."""
    from pyspark.sql import Window

    h = salted_hash64(F.col(key_col).cast("string"), salt)
    w = Window.partitionBy(*stratum_cols).orderBy(F.asc("_h"), F.asc(key_col))
    return (
        df.join(
            F.broadcast(allocation.select(*stratum_cols, "n_alloc")),
            list(stratum_cols),
        )
        .withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("n_alloc"))
        .drop("_h", "_rn", "n_alloc")
    )
