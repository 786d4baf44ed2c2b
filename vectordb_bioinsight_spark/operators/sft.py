"""Instruction-tuning (SFT) data formatting — the last mile between a
clean corpus and a supervised fine-tune: render multi-turn conversations
into a single template string and compute the LOSS-MASK character spans
(train on assistant turns only — the standard SFT recipe; training on the
user side teaches the model to imitate prompts).

Everything is expression-level string/array algebra over a
(conversation, turn, role, text) long table: one conversation-keyed
window for turn ordering and cumulative offsets, one groupBy to assemble.
No UDF, no driver-side templating — a 100 TB conversation log renders
with exactly one shuffle on the conversation key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: template markers — <|role|>text<|end|>, the ChatML-ish shape every
#: open template is a variant of; parameterized so tests can pin widths
ROLE_OPEN = "<|{role}|>"
TURN_CLOSE = "<|end|>"


def render_chat(
    df: DataFrame,
    conv_col: str,
    turn_col: str,
    role_col: str,
    text_col: str,
    mask_role: str = "assistant",
) -> DataFrame:
    """Render each conversation to ONE template string plus the loss-mask
    spans of the ``mask_role`` turns.

    Per turn, the rendered fragment is ``<|role|>text<|end|>``; turns
    concatenate in ``turn_col`` order. The mask spans are 0-based
    [start, end) CHARACTER offsets of the text portion (template markers
    are never trained on), computed from a cumulative length window —
    the same arithmetic any tokenizer-side masking re-derives, kept in
    characters here so the output is tokenizer-agnostic.

    Physical plan: one conversation-keyed ordered window (cumulative
    rendered length), one conversation groupBy assembling the string via
    sorted collect (struct sort on turn index — total order), and a
    scan-local filter building the span array. Output:
    (conv, rendered, n_turns, mask_spans array<struct<start,end>>,
    mask_chars) — mask_chars is the trained-character count, the number
    the token-budget planners consume.
    """
    # concat + length arithmetic, NOT format_string: the Formatter-based
    # expression is an order of magnitude slower per row than concat and
    # this runs twice per turn (measured: SCALING.md rule 32)
    open_len = F.length(F.col(role_col)) + F.lit(4)  # len('<|') + len('|>')
    frag_len = open_len + F.length(text_col) + F.lit(len(TURN_CLOSE))
    w = (
        Window.partitionBy(conv_col)
        .orderBy(turn_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_off = df.withColumn(
        "_off", F.coalesce(F.sum(frag_len).over(w), F.lit(0)).cast("long")
    )
    frag = F.concat(
        F.lit("<|"), F.col(role_col), F.lit("|>"), F.col(text_col), F.lit(TURN_CLOSE)
    )
    span = F.when(
        F.col(role_col) == mask_role,
        F.struct(
            (F.col("_off") + open_len).cast("long").alias("start"),
            (F.col("_off") + open_len + F.length(text_col)).cast("long").alias("end"),
        ),
    )
    per_turn = with_off.select(
        F.col(conv_col).alias("conv"),
        F.col(turn_col).alias("turn"),
        frag.alias("_frag"),
        span.alias("_span"),
    )
    assembled = per_turn.groupBy("conv").agg(
        F.array_join(
            # sort by turn index, then strip the index: total turn order
            # without re-windowing
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn", "_frag"))),
                lambda s: s["_frag"],
            ),
            "",
        ).alias("rendered"),
        F.count("*").cast("long").alias("n_turns"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_span").isNotNull(),
                        F.struct(F.col("turn"), F.col("_span").alias("s")),
                    )
                )
            ),
            lambda s: s["s"],
        ).alias("mask_spans"),
    )
    mask_chars = F.aggregate(
        F.col("mask_spans"),
        F.lit(0).cast("long"),
        lambda acc, s: acc + (s["end"] - s["start"]),
    )
    return assembled.select(
        "conv", "rendered", "n_turns", "mask_spans", mask_chars.alias("mask_chars")
    )


def preference_pairs(
    df: DataFrame,
    cluster_col: str,
    id_col: str,
    score_col: str,
    max_rejected_per_cluster: int = 4,
) -> DataFrame:
    """Preference-pair construction (DPO/RLHF data prep): within each
    cluster of comparable candidates (near-duplicate group, same-prompt
    completions, retrieval ties), the best-scoring member becomes
    ``chosen`` and every other member a ``rejected`` partner — the
    standard recipe for mining preference data out of a scored corpus
    instead of paying for human rankings.

    Determinism: chosen = max score, ties to the SMALLEST id; rejected
    partners take the remaining members in DESCENDING score order (the
    closest scores to the chosen — the hardest negatives — first) and
    cap at ``max_rejected_per_cluster`` so a mega-cluster cannot flood
    the pair set. Singleton clusters emit nothing.

    Physical plan: one cluster-keyed window pass (rank for the cap +
    max/argmax via first over the ordered frame); no join back — the
    chosen row is carried by a window aggregate. Output:
    (cluster, chosen_id, rejected_id, chosen_score, rejected_score,
    margin) with margin rounded 6 dp.
    """
    w_desc = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    w_all = Window.partitionBy(cluster_col)
    ranked = (
        df.withColumn("_rn", F.row_number().over(w_desc))
        .withColumn("chosen_id", F.first(id_col).over(w_desc))
        .withColumn("chosen_score", F.first(score_col).over(w_desc))
        .withColumn("_sz", F.count("*").over(w_all))
    )
    rejected = ranked.filter((F.col("_sz") > 1) & (F.col("_rn") > 1))
    # hardest rejected first = highest remaining score = smallest _rn > 1
    capped = rejected.filter(F.col("_rn") <= max_rejected_per_cluster + 1)
    return capped.select(
        F.col(cluster_col).alias("cluster"),
        "chosen_id",
        F.col(id_col).alias("rejected_id"),
        "chosen_score",
        F.col(score_col).alias("rejected_score"),
        F.round(F.col("chosen_score") - F.col(score_col), 6).alias("margin"),
    )
