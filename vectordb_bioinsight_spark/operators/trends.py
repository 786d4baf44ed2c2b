"""Corpus/trend analytics — SURVEY.md A6/A7/A8 + streaming batch twin.

Reference: papers-per-year histograms and keyword trend classification
(backend/app/utils/trend_analyzer.py:144-282): split the year range at its
midpoint, compare recent vs older keyword counts, label emerging (>2x),
declining (<0.5x), else stable.

Engine shape: one tokenise+explode pass, two filtered aggregations expressed
as a single conditional aggregation (no second scan), a when-ladder label.
Fully oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vectordb_bioinsight_spark.functions.text import STOPWORDS, tokenize


def keyword_frequencies(
    df: DataFrame,
    text_col: str,
    top_n: int = 20,
    drop_stopwords: bool = True,
) -> DataFrame:
    """A7: top-N token frequencies. Output (word, n) ordered desc, word asc
    tiebreak (total order for hash-stable top-N)."""
    words = df.select(F.explode(tokenize(text_col)).alias("word"))
    if drop_stopwords:
        # isin compiles to InSet (hash lookup) — O(1) per token vs the O(|SW|)
        # linear scan an array_contains(literal array) would do
        words = words.filter(~F.col("word").isin(*STOPWORDS))
    return (
        words.groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(top_n)
    )


def trend_classification(
    df: DataFrame,
    key_col: str,
    time_col: Column,
    split_point,
    emerging_ratio: float = 2.0,
    declining_ratio: float = 0.5,
) -> DataFrame:
    """A8: emerging/declining/stable per key.

    recent = count where time >= split_point, older = count before it — one
    conditional aggregation (single shuffle). Ratio guards division by zero
    the way the reference does: older==0 & recent>0 -> emerging.
    Output (key, older_n, recent_n, trend).
    """
    agg = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(F.when(time_col < split_point, 1).otherwise(0)).cast("long").alias("older_n"),
        F.sum(F.when(time_col >= split_point, 1).otherwise(0)).cast("long").alias("recent_n"),
    )
    trend = (
        F.when((F.col("older_n") == 0) & (F.col("recent_n") > 0), F.lit("emerging"))
        .when(F.col("recent_n") > F.col("older_n") * emerging_ratio, F.lit("emerging"))
        .when(F.col("recent_n") < F.col("older_n") * declining_ratio, F.lit("declining"))
        .otherwise(F.lit("stable"))
    )
    return agg.withColumn("trend", trend)


def new_users_cumulative(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Daily new-user counts + running distinct-user total — the growth
    curve of the trends tier (trend_analyzer.py's per-day histogram,
    extended to a distinct-entity cumulative).

    The naive form — COUNT(DISTINCT user) OVER (ORDER BY day) — holds the
    full user set per frame and is quadratic; the scalable identity is
    first-seen attribution: each user contributes exactly once, on their
    first day, and the cumulative distinct count is the running SUM of
    daily first-seen counts. That turns the plan into one user-keyed
    min-agg + one day-keyed count + a running sum over the DAY-cardinality
    table (bounded: rows = distinct days, so the unpartitioned window is
    a deliberate driver-scale step over a dimension-sized input, the same
    convention as the trends histograms).

    Output: (day, new_users, cum_users) for every day with >= 1 first-seen
    user.
    """
    first_seen = (
        df.select(F.col(user_col).alias("u"), F.to_date(ts_col).alias("d"))
        .groupBy("u")
        .agg(F.min("d").alias("day"))
    )
    daily = first_seen.groupBy("day").agg(F.count("*").cast("long").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).cast("long").alias("cum_users")
    )


def funnel_conversion(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: "list[str]",
    max_gap_s: "int | None" = None,
) -> DataFrame:
    """Ordered funnel analysis — how many users complete step 1, then
    step 2 STRICTLY AFTER their step-1 time, and so on (the product-
    analytics staple; reference analog: the event-sequence questions the
    trends tier answers per day, upgraded to per-user ordering).

    Semantics: a user reaches step i at the EARLIEST occurrence of
    ``steps[i]`` strictly after their step-(i-1) reach time. Earliest-
    completion is the standard funnel definition and makes reach times
    unique per (user, step).

    Physical plan (r05 rewrite — VERDICT r04 finding #2): the r04 shape
    built one reach table per step and unioned the UNMATERIALIZED
    lineages, so branch k silently re-ran joins 1..k-1 (O(S^2) joins).
    The funnel is really a per-user sequential scan, and Spark expresses
    that scan as ONE user-keyed aggregation: sort each user's step-typed
    events by time and fold over them (``F.aggregate``), greedily
    advancing a (depth, last_reach_ts) machine whenever the NEXT step's
    event arrives strictly after the current reach time. Greedy-earliest
    IS the reach-chain semantics — reach times are minimal at every stage
    by induction, so the fold's final depth equals the deepest non-empty
    reach table — and n_users(step i) = users with depth >= i. Ties at
    equal timestamps are order-independent: a same-ts event never
    qualifies (strict >), whichever side of the sort it lands on.

    Exactly TWO exchanges (test-pinned): the corpus-sized user groupBy
    (isin(steps) filter pushed to the scan), then a single-row global agg
    of per-user depths — every step's n_users is one conditional sum over
    that 1-row frame, and the S output rows (counts AND conversions) are
    ``inline``d from it with no further join, window, or shuffle. A step
    nobody reaches naturally sums to 0 (the SQL twin's count-over-empty-
    CTE shape); an empty FIRST step makes every conversion NULL via
    nullif, never a divide-by-zero. Per-user state is the collected
    (ts, step_index) set — bounded by that user's step-typed events
    (collect_set dedups exact repeats at no extra shuffle); a
    pathological user with millions of distinct step events would want
    a per-step join chain instead, but the fold is the right default.

    ``max_gap_s`` makes the funnel TIME-BOUNDED: step i must occur within
    that many seconds of the step-(i-1) reach time (the "conversion
    window" most product funnels require — an unbounded funnel credits a
    purchase a year after the view). The bounded machine is a DIFFERENT
    fold (ADVICE r05): greedy-earliest anchoring undercounts once windows
    can expire (A@0, A@50, B@100 with gap 60 — the A@0 anchor misses the
    qualifying A@50->B@100 chain), so the accumulator becomes the per-
    depth LATEST reach time array: every step-1 event refreshes the
    anchor, and step i advances from reach[i-1] when it lands inside the
    window. Latest-reach is optimal for window feasibility (all candidate
    reaches precede the event, so the latest is the one most likely still
    inside [ts - gap, ts)), hence the fold's depth equals the true
    longest qualifying chain. Because this machine REFRESHES anchors, tie
    order matters (ADVICE r06): events fold in (ts, -si) order so a
    same-ts step-1 refresh cannot overwrite the anchor a same-ts step-i
    event must read from a strictly earlier time. State grows from 2 fields to S timestamps
    per user; the plan shape (two exchanges) is unchanged.

    Output: (step, step_name, n_users, conversion) where conversion is
    the fraction of step-1 users reaching this step, rounded 6 dp.
    """
    steps_arr = F.array(*[F.lit(s) for s in steps])
    ev = df.select(
        F.col(user_col).alias("u"),
        # 1-based step index: int compares in the fold beat string
        # compares, and the shuffled struct is (timestamp, int) — the
        # step NAME never leaves the scan stage
        F.array_position(steps_arr, F.col(type_col)).cast("int").alias("si"),
        F.col(ts_col).alias("ts"),
    ).filter(F.col("si") > 0)
    per_user = ev.groupBy("u").agg(
        # ascending (ts, -si): within equal timestamps HIGHER steps fold
        # first, so an event only reads reach values written at strictly
        # earlier times — a same-ts step-1 refresh must not overwrite the
        # anchor a same-ts step-2 event is about to read (same-ts chains
        # stay impossible via the strict > check). The unwindowed machine
        # never refreshes anchors, so it is tie-order-independent and the
        # shared sort is safe for both.
        F.sort_array(
            F.collect_set(F.struct(F.col("ts"), (-F.col("si")).alias("nsi"), F.col("si")))
        ).alias("evs")
    )
    if max_gap_s is None:
        zero = F.struct(
            F.lit(0).alias("d"), F.lit(None).cast("timestamp").alias("last")
        )

        def _advance(acc, e):
            # advance iff this is the NEXT step's event, strictly after the
            # current reach time; d == len(steps) saturates (si <= len always)
            ok = (e["si"] == acc["d"] + 1) & (
                (acc["d"] == F.lit(0)) | (e["ts"] > acc["last"])
            )
            return F.when(
                ok, F.struct((acc["d"] + F.lit(1)).alias("d"), e["ts"].alias("last"))
            ).otherwise(acc)

        depth_expr = F.aggregate(F.col("evs"), zero, _advance, lambda acc: acc["d"])
    else:
        # windowed machine: per-depth LATEST reach times (see docstring)
        zero = F.array_repeat(F.lit(None).cast("timestamp"), len(steps))

        def _advance(acc, e):
            # greatest() guards the 1-based element_at against index 0 on
            # step-1 events, whose branch never reads prev
            prev = F.element_at(
                acc, F.greatest(e["si"] - 1, F.lit(1)).cast("int")
            )
            ok = F.when(e["si"] == 1, F.lit(True)).otherwise(
                prev.isNotNull()
                & (e["ts"] > prev)
                & (e["ts"].cast("long") - prev.cast("long") <= max_gap_s)
            )
            return F.zip_with(
                acc,
                F.sequence(F.lit(1), F.lit(len(steps))),
                lambda v, i: F.when(
                    ok & (i == e["si"]), F.greatest(v, e["ts"])
                ).otherwise(v),
            )

        depth_expr = F.aggregate(
            F.col("evs"),
            zero,
            _advance,
            # reaches are monotone (reach[i] only sets from reach[i-1]),
            # so depth = number of non-null reach slots
            lambda acc: F.size(F.filter(acc, lambda v: v.isNotNull())),
        )

    depths = per_user.select(depth_expr.alias("depth")).filter(F.col("depth") > 0)
    counts = depths.agg(
        *[
            F.coalesce(F.sum((F.col("depth") >= i + 1).cast("long")), F.lit(0))
            .cast("long")
            .alias(f"_n{i}")
            for i in range(len(steps))
        ]
    )
    out_rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step"),
                F.lit(s).alias("step_name"),
                F.col(f"_n{i}").alias("n_users"),
                F.round(
                    F.col(f"_n{i}") / F.nullif(F.col("_n0"), F.lit(0)), 6
                ).alias("conversion"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.inline(out_rows))


def rolling_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_rows: int = 7,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Rolling z-score anomaly detection over per-key daily totals — the
    trend-break detector the reference's year-over-year deltas
    (trend_analyzer.py:249-289 growth classification) approximate by eye:
    a day is anomalous when its total deviates from the trailing
    ``window_rows``-day mean by >= ``z_threshold`` trailing standard
    deviations.

    Physical plan: one (key, day) groupBy (map-side combinable), then one
    KEY-partitioned ordered window for the trailing mean/std — rows per
    key = distinct days, so the window input is calendar-bounded however
    large the fact table is. The current day is EXCLUDED from its own
    baseline (frame -window..-1): a spike must not mask itself by
    inflating the mean it is compared against.

    Output: (key, day, total, base_mean, base_std, zscore, is_anomaly)
    for days with a full baseline window; rounded 4 dp.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    w = (
        Window.partitionBy("key")
        .orderBy("day")
        .rowsBetween(-window_rows, -1)
    )
    base_mean = F.avg("total").over(w)
    base_std = F.stddev_samp("total").over(w)
    n_base = F.count("total").over(w)
    # every window-derived column is materialized BEFORE the baseline-size
    # filter: a window expression referenced after the filter would see the
    # FILTERED frame (fewer trailing rows) and silently shift the baseline
    windowed = (
        daily.withColumn("_n", n_base)
        .withColumn("base_mean", F.round(base_mean, 4))
        .withColumn("base_std", F.round(base_std, 4))
        # nullif guards a CONSTANT trailing window (flat metric, zero-filled
        # days): std = 0 there, and under the session's ANSI default a bare
        # division would throw DIVIDE_BY_ZERO and kill the job — NULL zscore
        # is the honest answer for a baseline with no variance (ADVICE r04)
        .withColumn(
            "zscore",
            F.round((F.col("total") - base_mean) / F.nullif(base_std, F.lit(0.0)), 4),
        )
    )
    return (
        windowed.filter(F.col("_n") >= window_rows)  # full baseline only
        .withColumn(
            "is_anomaly",
            F.when(F.col("base_std") > 0, F.abs(F.col("zscore")) >= z_threshold)
            .otherwise(F.lit(False)),
        )
        .select("key", "day", "total", "base_mean", "base_std", "zscore", "is_anomaly")
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort retention — the user-lifecycle matrix every analytics
    stack ships: users grouped by FIRST-SEEN week, retention(k) = fraction
    of the cohort active k weeks later.

    Physical plan: one user-keyed min-agg (first-seen week), one
    (user, week) distinct activity projection, one broadcast-back join on
    user, one (cohort, offset) count — every shuffle user- or
    cohort-keyed; the output is calendar² bounded.

    Output: (cohort_week, week_offset, n_active, cohort_size, retention)
    with retention rounded 6 dp; week_offset 0 row carries the cohort
    size by construction.

    Weeks are ``date_trunc('week')`` Mondays — NOT year*52+weekofyear,
    which mislabels ISO year-boundary weeks (Jan 1 can be ISO week 52 of
    the prior year) and breaks offsets across New Year.
    """
    weeks = df.select(
        F.col(user_col).alias("u"),
        F.to_date(F.date_trunc("week", F.col(ts_col))).alias("wk"),
    )
    first = weeks.groupBy("u").agg(F.min("wk").alias("cohort_week"))
    active = weeks.distinct()
    joined = active.join(first, "u").select(
        "cohort_week",
        (F.datediff(F.col("wk"), F.col("cohort_week")) / 7).cast("long").alias("week_offset"),
        "u",
    )
    counts = joined.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("u").cast("long").alias("n_active")
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def touch_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    conversion_type: str,
    touch_types: "list[str]",
    half_life_s: int = 7 * 86400,
) -> DataFrame:
    """Multi-touch attribution — the credit-assignment question every
    marketing/product stack asks downstream of the funnel: for each
    CONVERTING user (earliest ``conversion_type`` event), distribute one
    unit of conversion credit across the touch events strictly BEFORE
    their conversion time, under the three standard models at once:

    * first_touch — the earliest touch channel gets the full credit,
    * last_touch  — the latest touch before conversion gets it,
    * linear      — each touch event gets 1/n of it,
    * decayed     — each touch gets exp2(-age / half_life) weight,
      normalized per user (recent touches earn more; ``half_life_s``
      halves a touch's weight per elapsed half-life before conversion).

    Physical plan: conversion times are one user-keyed min-agg; touches
    join them on user (user-keyed, range predicate inside the join);
    per-(user, channel) counts + min/max touch times in ONE groupBy;
    first/last channels derive from dimension-cheap struct-min/max over
    the per-channel rows (ties break toward the lexicographically first
    channel via the struct's second field); the final rollup is a
    channel-cardinality agg. Every corpus-sized shuffle is user-keyed.

    Output per channel: (channel, first_touch, last_touch, linear,
    decayed, touched_users) — first/last are conversion counts (long),
    linear/decayed are fractional credit (rounded 6 dp; decayed and
    linear both sum to the converting-user count across channels).
    """
    ev = df.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t"), F.col(ts_col).alias("ts")
    )
    conv = (
        ev.filter(F.col("t") == conversion_type)
        .groupBy("u")
        .agg(F.min("ts").alias("conv_ts"))
    )
    touches = (
        ev.filter(F.col("t").isin(list(touch_types)))
        .join(conv, "u")
        .filter(F.col("ts") < F.col("conv_ts"))
    )
    age_s = (F.unix_micros("conv_ts") - F.unix_micros("ts")) / F.lit(1e6)
    decay_w = F.exp(F.lit(-0.6931471805599453) * age_s / F.lit(float(half_life_s)))
    per_uc = touches.withColumn("_w", decay_w).groupBy("u", "t").agg(
        F.count("*").cast("long").alias("n_uc"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.sum("_w").alias("w_uc"),
    )
    per_u = per_uc.groupBy("u").agg(
        F.sum("n_uc").cast("long").alias("n_u"),
        F.sum("w_uc").alias("w_u"),
        F.min(F.struct(F.col("min_ts"), F.col("t"))).alias("_first"),
        F.max(F.struct(F.col("max_ts"), F.col("t"))).alias("_last"),
    )
    joined = per_uc.join(per_u, "u")
    return (
        joined.groupBy(F.col("t").alias("channel"))
        .agg(
            F.sum((F.col("_first")["t"] == F.col("t")).cast("long"))
            .cast("long")
            .alias("first_touch"),
            F.sum((F.col("_last")["t"] == F.col("t")).cast("long"))
            .cast("long")
            .alias("last_touch"),
            F.round(F.sum(F.col("n_uc") / F.col("n_u")), 6).alias("linear"),
            F.round(F.sum(F.col("w_uc") / F.col("w_u")), 6).alias("decayed"),
            F.count("*").cast("long").alias("touched_users"),
        )
    )


def seasonal_decompose_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition of per-key daily totals —
    STL-lite: total = trend + seasonal + residual, where trend is the
    centered ``period``-day rolling mean (full windows only), seasonal is
    the per-(key, position-in-period) mean of the detrended series
    re-centered to sum to zero within each key, and residual is the rest.
    The trend-break detector (:func:`rolling_anomalies`) asks "is today
    odd?"; this answers "what is the repeating weekly shape vs the
    drift?" — the decomposition behind every seasonality-aware forecast.

    Position-in-period uses ``dayofweek`` when period=7 (calendar-locked,
    gap-robust) and ``datediff mod period`` otherwise.

    Physical plan: one (key, day) groupBy; one key-partitioned centered
    window (calendar-bounded rows per key); one (key, pos) mean agg
    broadcast back; arithmetic. Output: (key, day, total, trend,
    seasonal, residual) rounded 4 dp, full-trend-window days only.
    """
    half = period // 2
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    if period == 7:
        pos = F.dayofweek("day")
    else:
        pos = F.pmod(F.datediff("day", F.lit("1970-01-01").cast("date")), F.lit(period))
    w = Window.partitionBy("key").orderBy("day").rowsBetween(-half, half)
    trended = (
        daily.withColumn("_n", F.count("total").over(w))
        .withColumn("trend", F.round(F.avg("total").over(w), 4))
        .filter(F.col("_n") >= 2 * half + 1)
        .withColumn("pos", pos)
        .withColumn("detr", F.col("total") - F.col("trend"))
    )
    seas = trended.groupBy("key", "pos").agg(F.avg("detr").alias("s_raw"))
    seas_centered = seas.join(
        seas.groupBy("key").agg(F.avg("s_raw").alias("s_mean")), "key"
    ).select("key", "pos", F.round(F.col("s_raw") - F.col("s_mean"), 4).alias("seasonal"))
    return (
        trended.join(F.broadcast(seas_centered), ["key", "pos"])
        .select(
            "key",
            "day",
            "total",
            "trend",
            "seasonal",
            F.round(F.col("total") - F.col("trend") - F.col("seasonal"), 4).alias(
                "residual"
            ),
        )
    )


def event_transition_matrix(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    session_gap_s: int = 3600,
) -> DataFrame:
    """First-order Markov transition matrix over event types — the path
    model behind "what do users do next": consecutive event pairs within
    the same session (gap <= ``session_gap_s``, the sessionize convention)
    counted per (from, to) with the row-conditional probability.

    Physical plan: ONE user-keyed ordered window (lead of type/ts; ties
    broken by ``id_col`` so the ordering is total in both engines), a
    scan-local gap predicate, a (from, to) groupBy over type²-cardinality
    keys, and a from-partitioned share window over that bounded matrix.
    At 100 TB the only corpus-sized operation is the lead window, which
    reuses the per-user partitioning every sessionized consumer already
    shuffles on.

    Output: (from_type, to_type, n, p) — p rounded 6 dp, P(to | from).
    """
    w = Window.partitionBy(F.col(user_col)).orderBy(
        F.asc(ts_col), F.asc(id_col)
    )
    gap_us = F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(F.col(ts_col))
    pairs = (
        df.withColumn("_to", F.lead(type_col).over(w))
        .withColumn("_gap", gap_us)
        .filter(F.col("_to").isNotNull() & (F.col("_gap") <= session_gap_s * 1_000_000))
        .select(F.col(type_col).alias("from_type"), F.col("_to").alias("to_type"))
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wf), 6).alias("p"),
    )


def _survival_risk_frame(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Shared discrete-week risk table for the survival estimators
    (KM / Nelson-Aalen): per-week (n_risk, n_churned, n_censored) with
    end-of-data censoring. One user-keyed agg; everything downstream is
    week-cardinality."""
    spans = df.groupBy(F.col(user_col).alias("u")).agg(
        F.to_date(F.min(ts_col)).alias("first_day"),
        F.to_date(F.max(ts_col)).alias("last_day"),
    )
    horizon = spans.agg(F.max("last_day").alias("_max_day"))
    per_user = spans.crossJoin(F.broadcast(horizon)).select(
        (F.datediff("last_day", "first_day") / 7).cast("long").alias("week"),
        (F.datediff("_max_day", "last_day") < 7).cast("int").alias("censored"),
    )
    total = per_user.count()
    by_wk = per_user.groupBy("week").agg(
        F.count("*").cast("long").alias("ending"),
        F.sum(1 - F.col("censored")).cast("long").alias("n_churned"),
        F.sum("censored").cast("long").alias("n_censored"),
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, -1)
    return by_wk.withColumn(
        "n_risk",
        (F.lit(total) - F.coalesce(F.sum("ending").over(w), F.lit(0))).cast("long"),
    )


def kaplan_meier_weeks(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Discrete-week Kaplan-Meier survival (churn curve) over user
    lifetimes: lifetime = floor(days between first and last activity / 7);
    users still active in the data's final week are CENSORED (they leave
    the risk set at their last observed week without counting as churn —
    dropping censoring would biasedly call every fresh user a churner).

        S(t) = prod_{i<=t} (1 - d_i / n_i)

    with d_i = churned at week i, n_i = at risk entering week i. The
    product is computed as exp(cumsum(ln)) with an explicit zero-factor
    carry (a week that churns its whole risk set pins S at 0 from then
    on; sum() skipping a NULL ln(0) would silently resurrect the curve).

    Physical plan: one user-keyed min/max agg; two broadcast scalars
    (horizon, cohort size); everything after runs on the week-cardinality
    table (calendar-bounded) — the cumulative windows are dimension-sized
    by construction, the same convention as the trends histograms.

    Output: (week, n_risk, n_churned, n_censored, survival) rounded 6 dp.
    """
    risked = _survival_risk_frame(df, user_col, ts_col)
    wc = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    factor = 1.0 - F.col("n_churned") / F.col("n_risk")
    stepped = risked.withColumn("_f", factor).withColumn(
        "_dead", F.max((F.col("_f") <= 0).cast("int")).over(wc)
    )
    survival = F.when(F.col("_dead") == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log(F.col("_f"))).over(wc))
    )
    return stepped.select(
        "week",
        "n_risk",
        "n_churned",
        "n_censored",
        F.round(survival, 6).alias("survival"),
    )


def rfm_scores(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    n_bins: int = 5,
) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quintile scores
    per user, the classic customer-value grid (score n_bins = best:
    most recent, most frequent, highest spend).

    Binning is EXACT EQUAL-FREQUENCY over a total order
    ((metric, user) tiebreak): score derives from the global rank via
    ``floor((rank-1) * n_bins / N) + 1``. The ranks come from
    :func:`operators.windows.scaled_row_number` — range-partitioned
    two-phase rank, NO single-partition window — so the grid computes at
    any user count; a billion-user table pays three parallel range
    shuffles, not three funnel-through-one-task windows. (An
    approxQuantile-threshold bin would be cheaper but ties cross-engine
    hashing to sketch internals; rank binning is engine-exact.)

    Output: (user, recency_days, frequency, monetary, r_score, f_score,
    m_score) — monetary rounded 4 dp; recency measured against the
    table's own horizon (max activity day).
    """
    from vectordb_bioinsight_spark.operators.windows import (
        scaled_row_number_with_total,
    )

    spans = df.groupBy(F.col(user_col).alias("user")).agg(
        F.to_date(F.max(ts_col)).alias("_last"),
        F.count("*").cast("long").alias("frequency"),
        F.round(F.sum(value_col), 4).alias("monetary"),
    )
    horizon = spans.agg(F.max("_last").alias("_max"))
    base = spans.crossJoin(F.broadcast(horizon)).select(
        "user",
        F.datediff("_max", "_last").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )

    def _bin(frame: DataFrame, metric: str, out: str, invert: bool) -> DataFrame:
        ranked, total = scaled_row_number_with_total(
            frame, [F.asc(metric), F.asc("user")], rank_col="_rk"
        )
        bin_ = F.floor((F.col("_rk") - 1) * n_bins / F.lit(total)).cast("int")
        score = (F.lit(n_bins) - bin_) if invert else (bin_ + 1)
        return ranked.withColumn(out, score.cast("int")).drop("_rk")

    out = _bin(base, "recency_days", "r_score", invert=True)
    out = _bin(out, "frequency", "f_score", invert=False)
    out = _bin(out, "monetary", "m_score", invert=False)
    return out.select(
        "user", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


def rolling_active_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 28,
    lg_k: int = 14,
) -> DataFrame:
    """Rolling N-day active users (the MAU/WAU curve) via MERGEABLE HLL
    sketches — the scale answer to sliding-window distinct counting:

    * exact per-day distinct re-counted per window is O(days x window)
      scans; a COUNT(DISTINCT) OVER a sliding frame holds every user id
      in window state (the same trap rule SCALING.md 28 bans for ranks);
    * instead, ONE scan builds a per-day HLL sketch (``hll_sketch_agg``,
      shuffle payload = 2^lg_k bytes per day, not per user), and the
      trailing window unions day sketches (``hll_union_agg`` — union is
      associative and loss-free, exactly why Datasketches HLL exists).

    Estimates are deterministic for a given input set and lg_k (the
    sketch is hash-based, not sampled) but have no cross-engine SQL
    twin — catalog entries over this are rows-only by design, with the
    accuracy contract (±~1.6%/sqrt(2^lg_k)) pinned by a unit test
    against exact counts.

    Output: (day, daily_active, rolling_active) — daily exact (long),
    rolling estimated (long), one row per day with >= 1 event.
    """
    daily = df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(
        F.count_distinct(F.col(user_col)).cast("long").alias("daily_active"),
        F.hll_sketch_agg(F.col(user_col).cast("string"), F.lit(lg_k)).alias("_sk"),
    )
    w = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    # the window input is the DAY-cardinality sketch table — calendar-
    # bounded, the trends-histogram convention for unpartitioned windows
    return (
        daily.withColumn(
            "rolling_active",
            F.hll_sketch_estimate(F.hll_union_agg("_sk").over(w)).cast("long"),
        )
        .select("day", "daily_active", "rolling_active")
    )


def rolling_active_users_replay(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Rolling N-day active users from deterministic-replay HLL day
    registers (operators/sketches.py::hll_replay_registers) — the
    hash-oracle-able twin of :func:`rolling_active_users`. Same shape:
    ONE scan builds per-day register rows (shuffle payload bounded by
    days x 2^lg_k, never user ids); each day's registers then FAN OUT to
    the ``window_days`` calendar days they serve (register rows are tiny,
    so the explode costs days x m x N rows, not corpus rows) and fold by
    register-wise max — union of day sketches, exactly. Days are
    CALENDAR-trailing (day-6..day for N=7); output rows are restricted to
    observed days (days with >= 1 event), which also carry the exact
    daily distinct count.

    Output: (day date, daily_active long, rolling_active double round 4 —
    the HLL estimate, deterministic cross-engine).
    """
    from vectordb_bioinsight_spark.operators.sketches import (
        hll_replay_estimate,
        hll_replay_registers,
        merge_hll_replay_registers,
    )

    ev = df.select(
        F.to_date(F.col(ts_col)).alias("day"), F.col(user_col).alias("_u")
    )
    daily = ev.groupBy("day").agg(
        F.count_distinct("_u").cast("long").alias("daily_active")
    )
    regs = hll_replay_registers(ev, ["day"], "_u")
    served = regs.select(
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("_i"),
        "day",
        "bucket",
        "reg",
    ).select(F.date_add(F.col("day"), F.col("_i")).alias("day"), "bucket", "reg")
    merged = merge_hll_replay_registers(served, ["day"])
    est = hll_replay_estimate(merged, ["day"])
    return (
        daily.join(est, "day")
        .select(
            "day",
            "daily_active",
            F.col("approx_distinct").alias("rolling_active"),
        )
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon_days: int = 1,
) -> DataFrame:
    """Holt linear (double-exponential) smoothing over per-key daily
    totals — the forecasting step above :func:`seasonal_decompose_daily`:
    level and trend update sequentially over the OBSERVED day series
    (rows-frame, gap-robust) and the forecast extrapolates
    ``level + trend * horizon``.

    The recursion is a per-key FOLD, the same shape as the funnel:
    sort-collect the (day, total) series inside one key-keyed groupBy and
    ``F.aggregate`` the (level, trend) state over it — no driver loop, no
    per-step window, one corpus shuffle. Initialization is the textbook
    (level = first total, trend = 0). Because the fold executes the
    identical operation sequence on any engine, the result is
    bit-identical cross-engine (the DuckDB twin packs the state in a
    2-element list under ``list_reduce``), so the forecast is
    hash-oracle-able despite being a sequential recursion.

    State per key is the collected day series — calendar-bounded, the
    trends-tier convention. Output: (key, n_days, level, trend,
    forecast) rounded 6 dp.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    per_key = daily.groupBy("key").agg(
        F.count("*").cast("long").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "total"))),
            lambda s: s["total"],
        ).alias("series"),
    )
    a, b = float(alpha), float(beta)
    zero = F.struct(
        F.element_at("series", 1).alias("l"), F.lit(0.0).alias("t")
    )

    def _step(acc, x):
        new_l = a * x + (1 - a) * (acc["l"] + acc["t"])
        new_t = b * (new_l - acc["l"]) + (1 - b) * acc["t"]
        return F.struct(new_l.alias("l"), new_t.alias("t"))

    st = F.aggregate(
        F.slice("series", 2, F.greatest(F.size("series") - 1, F.lit(0))),
        zero,
        _step,
    )
    return per_key.select(
        "key",
        "n_days",
        F.round(st["l"], 6).alias("level"),
        F.round(st["t"], 6).alias("trend"),
        F.round(st["l"] + st["t"] * F.lit(float(horizon_days)), 6).alias("forecast"),
    )


def lagged_cross_correlation(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Lead-lag discovery between per-key daily series: Pearson
    correlation of series A's total on day d against series B's on
    day d + lag, for every ordered key pair and lag in
    [-max_lag, max_lag] — the "does signups lead purchases by two days?"
    question, answered for all pairs at once.

    Physical plan: one (key, day) groupBy; a lag dimension (2*max_lag+1
    literal rows) cross-joined onto one side so EVERY lag rides a single
    day-shifted equi-join; corr() is one distributed aggregate per
    (pair, lag) group. Output is keys² x lags — bounded however large
    the fact table is.

    Output: (key_a, key_b, lag, n_days, corr) with corr rounded 6 dp
    (NULL when either side is constant over the overlap); key_a < key_b,
    positive lag = A leads B.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    lags = df.sparkSession.createDataFrame(
        [(l,) for l in range(-max_lag, max_lag + 1)], "lag INT"
    )
    a = daily.select(
        F.col("key").alias("key_a"), F.col("day").alias("day_a"),
        F.col("total").alias("ta"),
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("key").alias("key_b"), F.col("day").alias("day_b"),
        F.col("total").alias("tb"),
    )
    joined = a.join(
        b,
        (F.date_add(F.col("day_a"), F.col("lag")) == F.col("day_b"))
        & (F.col("key_a") < F.col("key_b")),
    )
    return joined.groupBy("key_a", "key_b", "lag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.corr("ta", "tb"), 6).alias("corr"),
    )


def daily_ols_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key OLS trend line over daily totals — slope / intercept / R²
    via the SQL-standard ``regr_*`` aggregates (one shuffle, map-side
    combinable): the least-squares upgrade of
    :func:`trend_classification`'s two-bucket ratio (the reference
    classifies trends by recent/older counts, trend_analyzer.py — a
    fitted slope with R² is the standard quantitative form).

    x is the day offset from the KEY'S OWN first day (not epoch days):
    regr aggregates accumulate raw moments, and centering x keeps those
    moments small enough that float summation order cannot move the
    rounded result between engines (the same reason bench queries round
    before LIMIT). Slope units: value per day.

    Output: (key, n_days, slope, intercept, r2) rounded 4 dp.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    d0 = daily.groupBy("key").agg(F.min("day").alias("_d0"))
    with_x = daily.join(d0, "key").withColumn(
        "x", F.datediff(F.col("day"), F.col("_d0")).cast("double")
    )
    return with_x.groupBy("key").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.regr_slope("total", "x"), 4).alias("slope"),
        F.round(F.regr_intercept("total", "x"), 4).alias("intercept"),
        F.round(F.regr_r2("total", "x"), 4).alias("r2"),
    )


def holt_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    n_eval: int = 7,
) -> DataFrame:
    """Rolling-origin backtest of :func:`holt_linear` — the forecast-
    evaluation step the trends tier was missing: how good would the
    one-step-ahead Holt forecast have been over the last ``n_eval``
    observed days? (The reference publishes trend analyses without
    accuracy accounting, trend_analyzer.py; rolling-origin evaluation is
    the standard fix — Tashman 2000.)

    NOT n_eval re-trainings: ONE fold pass per key accumulates every
    one-step-ahead forecast as it goes (the forecast for observation j
    is level+trend of the state after j-1 — appended to the accumulator
    BEFORE the state update), so the whole backtest costs exactly one
    corpus shuffle, same as the forecast itself. Errors are then array
    arithmetic over the last ``n_eval`` (actual, forecast) pairs.

    Output: (key, n_days, n_eval, mae, smape) rounded 6 dp; sMAPE in
    [0, 2] (the symmetric 2|a-f|/(|a|+|f|) form). Keys with < 2 days
    have no one-step forecast and report NULL metrics.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    per_key = daily.groupBy("key").agg(
        F.count("*").cast("long").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "total"))),
            lambda s: s["total"],
        ).alias("series"),
    )
    a, b = float(alpha), float(beta)
    zero = F.struct(
        F.element_at("series", 1).alias("l"),
        F.lit(0.0).alias("t"),
        F.array().cast("array<double>").alias("fc"),
    )

    def _step(acc, x):
        fc_next = acc["l"] + acc["t"]  # one-step-ahead forecast for x
        new_l = a * x + (1 - a) * (acc["l"] + acc["t"])
        new_t = b * (new_l - acc["l"]) + (1 - b) * acc["t"]
        return F.struct(
            new_l.alias("l"),
            new_t.alias("t"),
            F.concat(acc["fc"], F.array(fc_next)).alias("fc"),
        )

    n = F.size("series")
    st = F.aggregate(
        F.slice("series", 2, F.greatest(n - 1, F.lit(0))), zero, _step
    )
    k = F.least(F.lit(int(n_eval)), n - 1)
    folded = per_key.select(
        "key", "n_days", "series", st.alias("st"), k.alias("k")
    ).filter(F.col("k") >= 1)
    at = F.slice("series", F.size("series") - F.col("k") + 1, F.col("k"))
    ft = F.slice(
        F.col("st")["fc"],
        F.size(F.col("st")["fc"]) - F.col("k") + 1,
        F.col("k"),
    )
    errs = F.zip_with(at, ft, lambda x, f: F.abs(x - f))
    sm = F.zip_with(
        at,
        ft,
        lambda x, f: 2.0 * F.abs(x - f) / (F.abs(x) + F.abs(f)),
    )
    tot = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )
    return folded.select(
        "key",
        "n_days",
        F.col("k").cast("long").alias("n_eval"),
        F.round(tot(errs) / F.col("k"), 6).alias("mae"),
        F.round(tot(sm) / F.col("k"), 6).alias("smape"),
    )


def session_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    gap_s: int = 3600,
    max_steps: int = 3,
    top_n: int = 20,
) -> DataFrame:
    """Top navigation paths: sessionize by silence gap (> ``gap_s``),
    render each session's first ``max_steps`` event types as a
    ``a>b>c`` path string, count sessions and distinct users per path —
    the journey-analysis rollup on top of :func:`event_transition_matrix`
    (full leading n-grams instead of bigram transitions).

    Plan: ONE user-keyed window pair (gap flag + running session id,
    shared partitioning — the sessionize shape), one (user, session)
    aggregation with an ordered in-group collect, one path aggregation
    over the bounded path dimension, top-n with full tiebreak.

    Output: (path, n_sessions, n_users) — top_n by sessions desc,
    path asc.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.asc(ts_col), F.asc(tiebreak_col)
    )
    gap_us = F.unix_micros(F.col(ts_col)) - F.lag(
        F.unix_micros(F.col(ts_col))
    ).over(w)
    is_new = F.when(
        gap_us.isNull() | (gap_us > gap_s * 1_000_000), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = df.withColumn(
        "_sid", F.sum(is_new).over(wsum).cast("long")
    )
    per_sess = sess.groupBy(F.col(user_col).alias("_u"), "_sid").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("t"),
                                F.col(tiebreak_col).alias("k"),
                                F.col(type_col).alias("e"),
                            )
                        )
                    ),
                    lambda s: s["e"],
                ),
                1,
                max_steps,
            ),
            ">",
        ).alias("path")
    )
    agg = per_sess.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.countDistinct("_u").cast("long").alias("n_users"),
    )
    return agg.orderBy(F.desc("n_sessions"), F.asc("path")).limit(top_n)


def nelson_aalen_weeks(df: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the same discrete-week risk
    table as :func:`kaplan_meier_weeks`:

        H(t) = sum_{i<=t} d_i / n_i,   var(H) = sum d_i / n_i^2

    — the estimator survival analysts read NEXT TO the KM curve (hazard
    is additive, so it localizes WHEN churn risk spikes, which the
    multiplicative survival curve smears). Same single user-keyed agg,
    week-cardinality windows.

    Output: (week, n_risk, n_churned, n_censored, cum_hazard,
    hazard_var) rounded 6 dp.
    """
    risked = _survival_risk_frame(df, user_col, ts_col)
    wc = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    h = F.col("n_churned") / F.col("n_risk")
    v = F.col("n_churned") / (F.col("n_risk") * F.col("n_risk"))
    return risked.select(
        "week",
        "n_risk",
        "n_churned",
        "n_censored",
        F.round(F.sum(h).over(wc), 6).alias("cum_hazard"),
        F.round(F.sum(v).over(wc), 6).alias("hazard_var"),
    )


def cumulative_gains(
    df: DataFrame,
    label_col: str,
    score_col: str,
    n_buckets: int = 10,
    round_cuts: int = 4,
) -> DataFrame:
    """Cumulative gains / lift chart — the campaign-targeting view of the
    PR curve: bucket the population by score decile (equal-frequency cut
    points from exact percentiles, rounded like the PSI cuts so bin
    assignment is engine-deterministic), then per decile the cumulative
    share of positives captured and the lift over random targeting.

    Plan: one tiny percentile agg broadcast back (cut points), scan-local
    bucket assignment (count cuts <= score), one bucket groupBy, one
    bucket-cardinality cumulative window.

    Output: (bucket 1 = highest scores, n, n_pos, cum_pop_share,
    cum_capture, lift) rounded 6 dp.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.agg(
        F.array(
            *[
                F.round(F.percentile(score_col, F.lit(q)), round_cuts)
                for q in qs
            ]
        ).alias("_cuts")
    )
    y = F.col(label_col).cast("int")
    binned = df.select(F.col(score_col).alias("_s"), y.alias("_y")).join(
        F.broadcast(cuts)
    )
    # bucket 1 = top scores: count cuts the score EXCEEDS, from the top
    bucket = (
        F.lit(n_buckets)
        - F.size(F.filter(F.col("_cuts"), lambda c: F.col("_s") > c))
    ).alias("bucket")
    per = binned.select(bucket, "_y").groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot_n = F.sum("n").over(Window.partitionBy())
    tot_pos = F.sum("n_pos").over(Window.partitionBy())
    cum_share = F.sum("n").over(wc) / tot_n
    cum_cap = F.sum("n_pos").over(wc) / F.nullif(tot_pos, F.lit(0))
    return per.select(
        "bucket",
        "n",
        "n_pos",
        F.round(cum_share, 6).alias("cum_pop_share"),
        F.round(cum_cap, 6).alias("cum_capture"),
        F.round(cum_cap / cum_share, 6).alias("lift"),
    )


#: factorials 0!..8! for the Shapley weight — channel counts beyond 8
#: explode the subset lattice and belong in a sampled estimator
_FACT = [1, 1, 2, 6, 24, 120, 720, 5040, 40320]


def shapley_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    conversion_type: str,
    touch_types: "list[str]",
) -> DataFrame:
    """Exact Shapley-value channel attribution (Shapley 1953; the
    simplified data-driven form of Zhao et al. 2018) — the
    game-theoretic upgrade of :func:`touch_attribution`'s heuristics:
    each channel's credit is its average marginal lift in conversion
    rate across every observed channel coalition,

        phi_i = sum_{S not containing i} |S|!(n-|S|-1)!/n! * (v(S u i) - v(S))

    with v(S) = the observed conversion rate of users whose touched-
    channel set is exactly S, v(empty) := 0 (direct conversions
    attribute nothing to channels), and unobserved coalitions
    contributing no marginal term — the standard data-driven
    conventions, documented rather than silent.

    Plan: ONE user-keyed aggregation builds (conv_ts, touch events),
    pre-conversion filtering happens inside the collected array (the
    funnel convention — per-user state is that user's events); a
    bounded groupBy gives the <= 2^n coalition table; the Shapley sum is
    a self-join of that broadcast-sized table against the channel
    dimension. Nothing after the first agg is corpus-scale.
    ``touch_types`` is capped at 8 (exact lattice = 2^n rows).

    Output: (channel, shapley, n_users_touched) rounded 6 dp.
    """
    n_ch = len(touch_types)
    if not 1 <= n_ch <= 8:
        raise ValueError("touch_types must have 1..8 channels (exact lattice)")
    per_user = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(
            F.when(F.col(type_col) == conversion_type, F.col(ts_col))
        ).alias("_conv_ts"),
        F.collect_list(
            F.when(
                F.col(type_col).isin(list(touch_types)),
                F.struct(F.col(ts_col).alias("t"), F.col(type_col).alias("e")),
            )
        ).alias("_touches"),
    )
    eligible = F.filter(
        F.col("_touches"),
        lambda x: F.col("_conv_ts").isNull() | (x["t"] < F.col("_conv_ts")),
    )
    sets = per_user.select(
        F.sort_array(
            F.array_distinct(F.transform(eligible, lambda x: x["e"]))
        ).alias("cset"),
        F.col("_conv_ts").isNotNull().cast("int").alias("_conv"),
    )
    combos = sets.groupBy("cset").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_conv").cast("long").alias("n_conv"),
    )
    combos = combos.withColumn(
        "v",
        F.when(F.size("cset") == 0, F.lit(0.0)).otherwise(
            F.col("n_conv") / F.col("n")
        ),
    ).localCheckpoint(eager=False)
    channels = df.sparkSession.createDataFrame(
        [(c,) for c in sorted(touch_types)], "channel string"
    )
    c2 = combos.select(
        F.col("cset").alias("cset2"), F.col("v").alias("v2")
    )
    fact = F.array(*[F.lit(float(f)) for f in _FACT])
    sz = F.size("cset")
    w = (
        F.element_at(fact, sz + 1)
        * F.element_at(fact, F.lit(n_ch) - sz)
        / F.lit(float(_FACT[n_ch]))
    )
    pairs = (
        combos.crossJoin(F.broadcast(channels))
        .filter(~F.array_contains(F.col("cset"), F.col("channel")))
        .join(
            F.broadcast(c2),
            F.col("cset2")
            == F.array_sort(F.array_union("cset", F.array(F.col("channel")))),
        )
        .select(
            "channel",
            (w * (F.col("v2") - F.col("v"))).alias("_contrib"),
        )
    )
    touched = (
        combos.select(F.explode("cset").alias("channel"), "n")
        .groupBy("channel")
        .agg(F.sum("n").cast("long").alias("n_users_touched"))
    )
    phi = pairs.groupBy("channel").agg(
        F.round(F.sum("_contrib"), 6).alias("shapley")
    )
    return (
        channels.join(phi, "channel", "left")
        .join(touched, "channel", "left")
        .select(
            "channel",
            F.coalesce("shapley", F.lit(0.0)).alias("shapley"),
            F.coalesce("n_users_touched", F.lit(0).cast("long")).alias(
                "n_users_touched"
            ),
        )
    )


def holt_conformal(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
    miscoverage: float = 0.2,
) -> DataFrame:
    """Split-conformal prediction interval for the one-step Holt
    forecast (Vovk et al. 2005; the modern distribution-free upgrade of
    a Gaussian +-z*sigma band): the calibration scores are the
    one-step-ahead absolute residuals the backtest fold already
    accumulates, and the interval half-width is the
    ceil((1-miscoverage)(m+1))-th smallest of the m scores — finite-
    sample coverage >= 1-miscoverage under exchangeability, no
    distributional assumption on the residuals.

    Plan: the SAME single fold as :func:`holt_backtest` (forecast list
    accumulated before each state update); residual ranking is array
    arithmetic on the per-key series — one corpus shuffle total. Keys
    whose calibration rank exceeds the available residuals (too few
    days for the requested coverage) report NULL bounds rather than a
    fake interval.

    Output: (key, n_days, n_cal, forecast, q_resid, lo, hi) rounded
    6 dp — forecast for the next unobserved day, [lo, hi] its
    conformal interval.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    per_key = daily.groupBy("key").agg(
        F.count("*").cast("long").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "total"))),
            lambda s: s["total"],
        ).alias("series"),
    )
    a, b = float(alpha), float(beta)
    zero = F.struct(
        F.element_at("series", 1).alias("l"),
        F.lit(0.0).alias("t"),
        F.array().cast("array<double>").alias("fc"),
    )

    def _step(acc, x):
        fc_next = acc["l"] + acc["t"]
        new_l = a * x + (1 - a) * (acc["l"] + acc["t"])
        new_t = b * (new_l - acc["l"]) + (1 - b) * acc["t"]
        return F.struct(
            new_l.alias("l"),
            new_t.alias("t"),
            F.concat(acc["fc"], F.array(fc_next)).alias("fc"),
        )

    n = F.size("series")
    st = F.aggregate(
        F.slice("series", 2, F.greatest(n - 1, F.lit(0))), zero, _step
    )
    folded = per_key.select("key", "n_days", "series", st.alias("st")).filter(
        F.size("series") >= 2
    )
    actual_tail = F.slice("series", 2, F.size("series") - 1)
    resid = F.array_sort(
        F.zip_with(actual_tail, F.col("st")["fc"], lambda x, f: F.abs(x - f))
    )
    m = F.size(resid)
    rank = F.ceil(F.lit(1.0 - float(miscoverage)) * (m + 1)).cast("int")
    q = F.when(rank <= m, F.element_at(resid, rank))
    fc = F.col("st")["l"] + F.col("st")["t"]
    return folded.select(
        "key",
        "n_days",
        m.cast("long").alias("n_cal"),
        F.round(fc, 6).alias("forecast"),
        F.round(q, 6).alias("q_resid"),
        F.round(fc - q, 6).alias("lo"),
        F.round(fc + q, 6).alias("hi"),
    )


def log_rank_test(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    group_col: str,
) -> DataFrame:
    """Two-group log-rank test over the discrete-week churn lifetimes —
    the inferential companion of :func:`kaplan_meier_weeks` /
    :func:`nelson_aalen_weeks` (Mantel 1966): per week, group A's
    observed churn is compared against its hypergeometric expectation
    under the pooled-hazard null,

        e_a(w) = d(w) * n_a(w) / n(w)
        v(w)   = d(w) * (n_a/n) * (1 - n_a/n) * (n - d) / (n - 1)
        z      = sum(d_a - e_a) / sqrt(sum(v)),   chi2 = z^2

    End-of-data censoring as in the KM frame. The group label is each
    user's value of ``group_col`` (must be user-constant; enforced by
    taking min and max and requiring equality).

    Plan: one user-keyed agg, a (group x week) aggregation, a week-spine
    cross so BOTH groups carry risk on every week (a group without an
    ending that week still has members at risk), cumulative windows over
    the calendar-bounded week frame, one final 1-row fold.

    Output: one row (group_a, n_a, n_b, observed_a, expected_a, z,
    chi2) rounded 6 dp — group_a is the lexicographically smaller label.
    """
    spans = df.groupBy(F.col(user_col).alias("u")).agg(
        F.to_date(F.min(ts_col)).alias("first_day"),
        F.to_date(F.max(ts_col)).alias("last_day"),
        F.min(group_col).alias("grp"),
        F.max(group_col).alias("_gmax"),
    )
    bad = spans.filter(F.col("grp") != F.col("_gmax")).limit(1).count()
    if bad:
        raise ValueError(f"{group_col} must be constant per user")
    horizon = spans.agg(F.max("last_day").alias("_max_day"))
    per_user = spans.crossJoin(F.broadcast(horizon)).select(
        "grp",
        (F.datediff("last_day", "first_day") / 7).cast("long").alias("week"),
        (F.datediff("_max_day", "last_day") < 7).cast("int").alias("censored"),
    )
    totals = per_user.groupBy("grp").agg(F.count("*").cast("long").alias("n_g"))
    by = per_user.groupBy("grp", "week").agg(
        F.count("*").cast("long").alias("ending"),
        F.sum(1 - F.col("censored")).cast("long").alias("d"),
    )
    weeks = per_user.select("week").distinct()
    spine = weeks.crossJoin(F.broadcast(totals))
    filled = spine.join(by, ["grp", "week"], "left").select(
        "grp",
        "week",
        "n_g",
        F.coalesce("ending", F.lit(0)).cast("long").alias("ending"),
        F.coalesce("d", F.lit(0)).cast("long").alias("d"),
    )
    w_prior = (
        Window.partitionBy("grp")
        .orderBy("week")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risked = filled.withColumn(
        "n_risk",
        (F.col("n_g") - F.coalesce(F.sum("ending").over(w_prior), F.lit(0))).cast(
            "long"
        ),
    )
    ga = risked.agg(F.min("grp").alias("_ga"))
    wk = (
        risked.join(F.broadcast(ga))
        .groupBy("week")
        .agg(
            F.sum(F.when(F.col("grp") == F.col("_ga"), F.col("d"))).alias("d_a"),
            F.sum(F.when(F.col("grp") == F.col("_ga"), F.col("n_risk"))).alias(
                "r_a"
            ),
            F.sum("d").alias("d_t"),
            F.sum("n_risk").alias("r_t"),
        )
        .filter((F.col("r_t") > 1) & (F.col("d_t") > 0))
    )
    share = F.col("r_a") / F.col("r_t")
    e_a = F.col("d_t") * share
    v = (
        F.col("d_t")
        * share
        * (1.0 - share)
        * (F.col("r_t") - F.col("d_t"))
        / (F.col("r_t") - 1.0)
    )
    one = wk.agg(
        F.sum("d_a").cast("long").alias("observed_a"),
        F.round(F.sum(e_a), 6).alias("expected_a"),
        F.sum(F.col("d_a") - e_a).alias("_num"),
        F.sum(v).alias("_var"),
    )
    g_names = totals.join(F.broadcast(ga)).agg(
        F.min("grp").alias("group_a"),
        F.sum(F.when(F.col("grp") == F.col("_ga"), F.col("n_g"))).cast(
            "long"
        ).alias("n_a"),
        F.sum(F.when(F.col("grp") != F.col("_ga"), F.col("n_g"))).cast(
            "long"
        ).alias("n_b"),
    )
    z = F.col("_num") / F.nullif(F.sqrt(F.col("_var")), F.lit(0.0))
    return (
        one.join(F.broadcast(g_names))
        .select(
            "group_a",
            "n_a",
            "n_b",
            "observed_a",
            "expected_a",
            F.round(z, 6).alias("z"),
            F.round(z * z, 6).alias("chi2"),
        )
    )


def theil_sen_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Theil–Sen robust trend per key — the median of all pairwise
    slopes over the daily series (Theil 1950; Sen 1968): up to ~29%
    contaminated days cannot move the estimate, where one spiked day
    drags the OLS line (:func:`daily_ols_trend`) arbitrarily. Report
    both and diverging slopes flag the outlier.

    Plan: the pairwise self-join runs WITHIN each key over the daily
    table — the frame is calendar-bounded (~30 rows/key → ~435
    pairs/key), the trends-tier convention, so the quadratic term is a
    constant, not a scale factor. Medians are exact percentiles
    (type-7, cross-engine). Intercept = median(y - slope*x), the
    standard robust intercept.

    Output: (key, n_days, n_pairs, slope, intercept) rounded 4 dp.
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.round(F.sum(value_col), 4).alias("total"))
    d0 = daily.groupBy("key").agg(
        F.min("day").alias("_d0"), F.count("*").cast("long").alias("n_days")
    )
    pts = daily.join(d0, "key").select(
        "key",
        "n_days",
        F.datediff(F.col("day"), F.col("_d0")).cast("double").alias("x"),
        F.col("total").alias("y"),
    )
    a = pts.select("key", "n_days", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = pts.select("key", F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = a.join(b, "key").filter(F.col("x1") < F.col("x2"))
    slope_per_key = pairs.groupBy("key", "n_days").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.percentile(
            (F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1")),
            F.lit(0.5),
        ).alias("_slope"),
    )
    with_slope = pts.join(
        slope_per_key.select("key", "_slope"), "key"
    )
    icept = with_slope.groupBy("key").agg(
        F.percentile(
            F.col("y") - F.col("_slope") * F.col("x"), F.lit(0.5)
        ).alias("_icept")
    )
    return (
        slope_per_key.join(icept, "key")
        .select(
            "key",
            "n_days",
            "n_pairs",
            F.round("_slope", 4).alias("slope"),
            F.round("_icept", 4).alias("intercept"),
        )
    )
