"""Join operators — SURVEY.md §2.3.

Dimension joins broadcast explicitly; the as-of join is a Spark-native
composition (union + last-value window) that avoids the naive
range-cross-join, which would be quadratic per key at scale.
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def _watch_cap_observation(obs: Observation, max_basket_size: int) -> None:
    """Log cooccurrence_edges truncation when (and only when) the observed
    query actually executes. ``Observation.get`` blocks until the first
    action over the plan completes; a daemon thread keeps the operator's
    lazy contract — constructing the DataFrame runs no Spark job, and a
    plan that is never executed never logs (the thread just parks)."""

    def _watch() -> None:
        try:
            m = obs.get
        except Exception:  # session torn down before the query ran
            return
        if m["ctxs"]:
            _LOG.warning(
                "cooccurrence_edges: max_basket_size=%d truncated %d context(s), "
                "dropping %d context-item row(s) (deterministic item-order cut)",
                max_basket_size,
                m["ctxs"],
                m["dropped"],
            )

    threading.Thread(
        target=_watch, name="cooccurrence-cap-watch", daemon=True
    ).start()


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    fallback: dict[str, str] | None = None,
) -> DataFrame:
    """J1: dimension lookup join with fallback-to-self semantics.

    Reference: gene-ID -> symbol mapping with fallback to the raw id
    (agent1_deg.py:109-166). ``fallback={"symbol": "gene_id"}`` produces
    ``coalesce(symbol, gene_id) AS symbol``. Explicit ``broadcast()`` — all
    engine dimensions are KB-MB scale, and a broadcast hash join keeps the
    fact table shuffle-free at any scale.
    """
    out = fact.join(F.broadcast(dim), on, "left")
    for col, src in (fallback or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.col(src)))
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` within the same ``on`` key (direction=backward).

    SURVEY §2.3 'Absent' — declared engine capability. Implementation is the
    scalable union-and-carry pattern: tag both sides, union, sort within key
    by (ts, side), and carry the last right value forward with
    ``last(ignorenulls=True)``. One shuffle on the key, O(n log n) per key —
    versus the naive inequality join which Spark would execute as a
    broadcast-nested-loop (quadratic).

    Ties: a right row at exactly left_ts IS visible (<=), enforced by sorting
    the right-side tag before the left at equal timestamps.
    """
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    rt = (
        right.select(
            F.col(on),
            F.col(right_ts).alias("_ts"),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("_side", F.lit(0))
    )
    lcols = [c for c in lt.columns if c not in ("_ts", "_side")]
    for c in value_cols:
        lt = lt.withColumn(c, F.lit(None).cast(rt.schema[c].dataType))
    rt_full = rt
    for c in lcols:
        if c not in rt_full.columns:
            rt_full = rt_full.withColumn(c, F.lit(None).cast(lt.schema[c].dataType))
    unioned = lt.select(*lcols, *value_cols, "_ts", "_side").unionByName(
        rt_full.select(*lcols, *value_cols, "_ts", "_side")
    )
    w = Window.partitionBy(on).orderBy(F.col("_ts"), F.col("_side")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    carried = unioned
    for c in value_cols:
        carried = carried.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return carried.filter(F.col("_side") == 1).drop("_ts", "_side")


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
    extra_on: Sequence[str] = (),
) -> DataFrame:
    """Range join (point-in-interval) via bucketing: explode each interval to
    its covered buckets, equi-join on bucket, then re-check the predicate.
    Turns a nested-loop inequality join into a hash join — the standard
    scale-out trick when intervals are short relative to the domain.
    """
    lb = left.withColumn("_bkt", F.floor(F.col(left_point) / bucket_width).cast("long"))
    rb = right.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bucket_width).cast("long"),
                F.floor(F.col(right_hi) / bucket_width).cast("long"),
            )
        ),
    )
    on = ["_bkt", *extra_on]
    return (
        lb.join(rb, on)
        .filter((F.col(left_point) >= F.col(right_lo)) & (F.col(left_point) <= F.col(right_hi)))
        .drop("_bkt")
    )


def cooccurrence_edges(
    df: DataFrame,
    item_col: str,
    context_col: str,
    min_weight: int = 1,
    max_basket_size: int | None = 1000,
) -> DataFrame:
    """J7: co-occurrence self-join — items sharing a context become weighted
    edges (keyword pairs weighted by shared papers, graph.py:352-368).

    Output: (item1, item2, weight) with item1 < item2 (upper triangle).
    Scale: shuffle on context; hot contexts are the skew risk — AQE skew-join
    handles moderate skew, and the pair fan-out is quadratic in basket size,
    so ``max_basket_size`` (default 1000 -> <= ~500k pairs per context) is
    ENFORCED here rather than left to caller discipline (the reference caps
    its inputs the same way, agent2_network.py:127-132). Truncation is
    deterministic (the first N items in item sort order, streamed through a
    rank window — no per-context collect, so a pathological 10M-item context
    cannot OOM the cap itself), LAZY (the window is a no-op under the cap
    and runs unconditionally IN the plan — building the DataFrame never
    triggers a Spark job, ADVICE r06), and LOGGED, never silent: an
    ``observe`` node counts truncated contexts/rows at execution time and a
    daemon watcher emits the warning when the query actually runs. The
    window costs nothing extra: its (_ctx, _item) sort + _ctx partitioning
    is exactly the distribution the self-join needs, so the join reuses it.
    In-cap inputs are byte-identical to the uncapped path.
    ``max_basket_size=None`` disables the cap, restoring the original plan.
    """
    pairs = df.select(
        F.col(context_col).alias("_ctx"), F.col(item_col).alias("_item")
    )
    if max_basket_size is not None:
        # FUSED dedup + cap in ONE context-keyed shuffle (guide §2.4 — the
        # r01..r09 form paid a (ctx, item) distinct shuffle AND a ctx window
        # shuffle): over (partitionBy ctx, orderBy item), duplicates are
        # adjacent peers, so `first-row-or-item != lag(item)` (null-safe)
        # IS the distinct, and dense_rank IS the former row_number over the
        # deduped rows — same survivors, same deterministic first-N-items
        # truncation, byte-identical in-cap output.
        w = Window.partitionBy("_ctx").orderBy("_item")
        ranked = pairs.withColumn(
            "_new",
            (F.row_number().over(w) == 1)
            | ~F.col("_item").eqNullSafe(F.lag("_item").over(w)),
        ).withColumn("_rk", F.dense_rank().over(w))
        # dense_rank gives each over-cap context exactly one DISTINCT row
        # with _rk == cap+1, so both metrics are plain sums (observe()
        # allows no distinct aggregates)
        obs = Observation()
        ranked = ranked.observe(
            obs,
            F.coalesce(
                F.sum(
                    (F.col("_new") & (F.col("_rk") == max_basket_size + 1)).cast("long")
                ),
                F.lit(0),
            ).alias("ctxs"),
            F.coalesce(
                F.sum(
                    (F.col("_new") & (F.col("_rk") > max_basket_size)).cast("long")
                ),
                F.lit(0),
            ).alias("dropped"),
        )
        _watch_cap_observation(obs, max_basket_size)
        pairs = (
            ranked.filter(F.col("_new") & (F.col("_rk") <= max_basket_size))
            .drop("_rk", "_new")
        )
    else:
        pairs = pairs.distinct()
    a = pairs.select("_ctx", F.col("_item").alias("item1"))
    b = pairs.select("_ctx", F.col("_item").alias("item2"))
    return (
        a.join(b, "_ctx")
        .filter(F.col("item1") < F.col("item2"))
        .groupBy("item1", "item2")
        .agg(F.count("*").cast("long").alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )


def item_cf_topk(
    df: DataFrame,
    item_col: str,
    basket_col: str,
    k: int = 5,
    min_cooc: int = 2,
) -> DataFrame:
    """Item-item collaborative filtering — cosine-normalized co-occurrence
    ("customers who bought X also bought"): sim(i, j) =
    cooc(i, j) / sqrt(n_i * n_j) over basket membership, then top-k
    neighbors per item. The memory-based CF baseline every recommender
    starts from, and the content-free complement of the embedding
    recommender (operators/vector.recommend analog).

    Physical plan: :func:`cooccurrence_edges` (basket-keyed self-join,
    min_cooc prunes the long tail BEFORE normalization), item counts as a
    broadcast dimension, symmetrized edges ranked per item — the rank
    window partitions by item, never global. Output:
    (item, neighbor, cooc, similarity, rank) with similarity rounded 6
    dp; ties break (similarity desc, neighbor asc).
    """
    from pyspark.sql import Window

    # r11 (VERDICT r10 item 4): symmetrize by EXPLODING each canonical edge
    # into both directions instead of unioning two copies of the edges
    # subtree — the union re-expanded the whole cooccurrence self-join in
    # the analyzed plan (6 lineitem scans; 4 after this change: one edges
    # subtree + the two count broadcasts). Similarity is computed ONCE per
    # undirected edge before the explode (it is symmetric:
    # weight / sqrt(n1*n2) — float-identical for both directions since the
    # product commutes), halving the join+round work too. A lazy-checkpoint
    # variant stays rejected (r10 measured 2.9 s vs 1.9 s: serialized
    # materialization barriers replace AQE's reused in-flight stages).
    edges = cooccurrence_edges(df, item_col, basket_col, min_weight=min_cooc)
    counts = (
        df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("item"))
        .distinct()
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("n_item"))
    )
    scored = (
        edges.join(
            F.broadcast(counts.select(F.col("item").alias("item1"),
                                      F.col("n_item").alias("_n1"))),
            "item1",
        )
        .join(
            F.broadcast(counts.select(F.col("item").alias("item2"),
                                      F.col("n_item").alias("_n2"))),
            "item2",
        )
        .withColumn(
            "similarity",
            F.round(F.col("weight") / F.sqrt(F.col("_n1") * F.col("_n2")), 6),
        )
    )
    sym = scored.select(
        F.explode(
            F.array(
                F.struct(F.col("item1").alias("item"), F.col("item2").alias("neighbor")),
                F.struct(F.col("item2").alias("item"), F.col("item1").alias("neighbor")),
            )
        ).alias("_e"),
        "weight",
        "similarity",
    ).select("_e.item", "_e.neighbor", "weight", "similarity")
    w = Window.partitionBy("item").orderBy(F.desc("similarity"), F.asc("neighbor"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("item", "neighbor", F.col("weight").alias("cooc"), "similarity", "rank")
    )


def association_rules(
    df: DataFrame,
    item_col: str,
    basket_col: str,
    min_cooc: int = 2,
    min_confidence: float = 0.0,
) -> DataFrame:
    """Directed association rules A -> B over baskets — the
    support/confidence/lift view of the co-occurrence graph (Agrawal &
    Srikant 1994; the rule form of the same counts item_cf_topk ranks by
    cosine):

        support    = n_AB / N           confidence = n_AB / n_A
        lift       = confidence / (n_B / N)

    Plan: one basket-keyed co-occurrence self-join for pair counts (the
    cooccurrence_edges shuffle — skew note there applies), one item-count
    aggregate broadcast back twice, the basket total folded from a 1-row
    aggregate. Rules emit in BOTH directions from each undirected pair
    (confidence is asymmetric).

    Output: (antecedent, consequent, n_ab, n_a, n_b, support,
    confidence, lift) rounded 6 dp.
    """
    pairs = cooccurrence_edges(df, item_col, basket_col, min_weight=min_cooc)
    both = pairs.select(
        F.col("item1").alias("a"), F.col("item2").alias("b"), "weight"
    ).unionByName(
        pairs.select(
            F.col("item2").alias("a"), F.col("item1").alias("b"), "weight"
        )
    )
    items = (
        df.select(F.col(item_col).alias("_i"), F.col(basket_col).alias("_b"))
        .distinct()
        .groupBy("_i")
        .agg(F.count("*").cast("long").alias("n_i"))
    )
    total = df.agg(
        F.countDistinct(basket_col).cast("double").alias("_n")
    )
    out = (
        both.join(
            F.broadcast(items.select(F.col("_i").alias("a"), F.col("n_i").alias("n_a"))),
            "a",
        )
        .join(
            F.broadcast(items.select(F.col("_i").alias("b"), F.col("n_i").alias("n_b"))),
            "b",
        )
        .join(F.broadcast(total))
    )
    conf = F.col("weight") / F.col("n_a")
    return out.filter(conf >= min_confidence).select(
        F.col("a").alias("antecedent"),
        F.col("b").alias("consequent"),
        F.col("weight").alias("n_ab"),
        "n_a",
        "n_b",
        F.round(F.col("weight") / F.col("_n"), 6).alias("support"),
        F.round(conf, 6).alias("confidence"),
        F.round(conf / (F.col("n_b") / F.col("_n")), 6).alias("lift"),
    )
