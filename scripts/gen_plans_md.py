#!/usr/bin/env python
"""Generate PLANS.md: the formatted physical plan of each headline query
with the one-paragraph audit of WHY that plan is the right shape at
100 TB. Regenerate after any plan-shape change:

    python scripts/gen_plans_md.py
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

#: query -> the audit paragraph (the claim the plan excerpt must support)
AUDITS: dict[str, str] = {
    "pricing_summary": (
        "One scan, one map-side-combinable groupBy on two low-cardinality "
        "keys. `PushedFilters` carries the date predicate into the parquet "
        "reader; every aggregate is a partial-final pair, so the shuffle "
        "moves per-(flag,status) partials, never rows."
    ),
    "hybrid_rrf": (
        "Both retrieval arms (cosine kNN, BM25) are bounded top-fetch_k "
        "before the RRF fusion (one union of per-arm contributions + one "
        "groupBy on doc_id) — the only unpartitioned windows run over "
        "≤fetch_k rows per arm or the ≤Σfetch_k fused rows (documented "
        "bounded usage). The BM25 per-doc aggregate feeds two consumers "
        "through one exchange (ReusedExchange at run time), nothing is "
        "persisted, and no corpus-sized shuffle exists anywhere in the "
        "fused DAG."
    ),
    "semdedup": (
        "Fixed-centroid assignment is a scan-local argmax (centroids are "
        "inlined literals — zero shuffle to assign); the only shuffle "
        "co-locates each cluster, where the quadratic loser step runs as "
        "per-cluster chunked BLAS (FlatMapGroupsInPandas) with the fold "
        "path's exact round-6 decision rule — the r10 replacement for the "
        "interpreted zip_with pair fold (~45 µs/pair), same kernel the "
        "learned-codebook scale route (semdedup_auto) always used, "
        "measured linear in SCALING.md."
    ),
    "repeated_spans": (
        "ExactSubstr as relational algebra: shingle+hash projection "
        "(persisted once, feeding both consumers), dup detection via "
        "min(id)!=max(id) — map-side combinable, ONE shuffle of 16-byte "
        "pairs, no countDistinct expand — an equi-join on the 64-bit "
        "shingle key, and a doc-partitioned gaps-and-islands window. "
        "Nothing quadratic, nothing collected."
    ),
    "bh_adjust": (
        "The scaled BH path: global order comes from repartitionByRange (a "
        "parallel shuffle), ranks and the reverse running-min from two "
        "mapInPandas passes with 2×P scalars of driver traffic. No "
        "single-partition window touches the p-value table."
    ),
    "gsea_brand_es": (
        "Two-phase range rank (no single-partition window), then the "
        "hits-only compressed walk: candidates derive from membership rows "
        "alone via a conditional array + explode in ONE pass over the hit "
        "table — the N×S walk grid and the 3-way union re-computation are "
        "both gone (r04)."
    ),
    "ngram_decontaminate": (
        "Benchmark grams broadcast; the corpus side projects token arrays "
        "once behind the explode boundary and semi-joins FIRST, so only "
        "matched grams ever shuffle. The 244→24 s rewrite is pinned in "
        "SCALING.md."
    ),
    "url_domain_stats": (
        "Extract+canonicalize+registrable-domain is a pure JVM projection "
        "(zero-shuffle, plan-pinned in tests); the only movement is the "
        "domain-keyed multi-distinct aggregate and an O(domains) sort."
    ),
    "web_clean_docs": (
        "The whole HTML/entity/mojibake repair chain compiles into one "
        "WholeStageCodegen projection: zero Exchange, zero Python — "
        "pinned at 0 exchanges in tests/test_plans.py."
    ),
    "shard_manifest_docs": (
        "One shard-window shuffle (the movement a partitioned write needs "
        "anyway) and a map-side-combinable manifest aggregate; the xor "
        "fingerprints make the result partition-order independent, so the "
        "plan is free to re-arrange at any cluster size."
    ),
    "training_corpus": (
        "The flagship gate→dedup→select→split pipeline as ONE lazy DAG: "
        "quality gating scan-local, exact dedup a hash groupBy, LSH "
        "banding a bounded-key groupBy + band join, split assignment a "
        "scan-local hash — the only corpus-sized shuffles are the two "
        "dedup keys."
    ),
    "funnel_conversion": (
        "The r05 fold rewrite (SCALING.md rule 30): the isin(steps) filter "
        "pushes to the scan, ONE user-keyed groupBy collects each user's "
        "step-typed events, the greedy (depth, last_reach) machine runs as "
        "an `aggregate` expression inside the same stage, and every step "
        "count/conversion inlines from a single-row conditional global agg "
        "— exactly two exchanges (pinned), no join chain, no re-executed "
        "lineage."
    ),
    "centroid_importance": (
        "The relational M10 attribution: posexplode once; centroids are a "
        "(labels x dims) broadcast dimension, so every scoring pass is a "
        "BroadcastHashJoin + (id)-keyed argmin agg; the per-dim permutation "
        "windows partition by the portable hash bucket (never global). "
        "Adding a dim adds one bounded pass, nothing quadratic."
    ),
    "kcore_parts": (
        "Fixed-round peel with per-round lazy checkpoints: each round is one "
        "node-keyed degree agg + two semi-joins over the MATERIALIZED "
        "previous survivors — without the checkpoint, round r's two "
        "consumers re-execute rounds 1..r-1 (2^rounds subtree blowup, "
        "measured 7.7 -> 2.3 s at sf0.1)."
    ),
    "rfm_segments": (
        "Three exact global ranks WITHOUT a single-partition window: each "
        "metric ranks via repartitionByRange + per-partition offsets "
        "(scaled_row_number), so the quintile grid computes at any user "
        "count; the final rollup is a 125-cell agg."
    ),
    "bootstrap_purchase_ci": (
        "Fifty bootstrap replicates in ONE aggregation over one scan: "
        "Poisson(1) weights project from the portable hash (each weight "
        "evaluated once), every replicate rate is a conditional-sum pair, "
        "and the percentile envelope sorts a 50-element array in-plan — "
        "the only exchange is the final single-row agg."
    ),
    "binq_knn": (
        "Two-stage binary-quantized search: the only corpus-wide scan is "
        "the Hamming stage over PACKED CODE WORDS (16 bytes/vector — "
        "bit_count(xor) inside codegen), shortlisted by "
        "TakeOrderedAndProject; the raw floats are touched only for the "
        "40-row shortlist via a broadcast id-join before the exact cosine "
        "rerank. The 64-row threshold dimension broadcasts everywhere."
    ),
    "ship_overlap_annotation": (
        "The interval-overlap inequality join runs as an EQUI-join on "
        "(suppkey, 32-day bin): both sides explode to their covered bins, "
        "shuffle-hash-join on the bin key, and owner-bin dedup (bin == "
        "bin of max(start)) keeps each overlapping pair exactly once with "
        "NO distinct pass — no BroadcastNestedLoopJoin anywhere in the "
        "plan, which is the entire point at 100 TB."
    ),
    "value_hist_quantiles": (
        "Mergeable-quantile maintenance: one map-side-combinable groupBy "
        "builds (type, day, bin) integer shards, one more folds them to "
        "per-type state, and the rank queries run on <= n_bins rows per "
        "group. The DuckDB twin builds the histogram in one direct pass, "
        "so the hash-match PROVES merge == rebuild."
    ),
    "rake_keyphrases": (
        "Phrase segmentation is a scan-local array fold — no token "
        "posexplode, no token-position window (the windowed formulation "
        "cost 100 s/1M docs; SCALING rule 36). The only shuffles are "
        "doc-keyed: per-(doc, word) stats, the per-doc score map fold, "
        "its broadcast-sized join back, and the top-n rank window."
    ),
    "part_link_prediction": (
        "One wedge self-join on the shared-neighbor key with the edge "
        "list, symmetrized adjacency, and degree table each materialized "
        "ONCE (lazy checkpoints at the three fan-out points — 54 Exchange "
        "nodes collapsed to 10); existing edges anti-join out; the final "
        "LIMIT is fully tie-broken."
    ),
    # r06 gap-closing tier headliners (VERDICT r06 task 7)
    "trend_primary_docs": (
        "The 17-trend seed rides as a broadcast dimension into ONE cross "
        "join against pre-projected lambda-captured text columns (the "
        "Spark 4.1 codegen workaround); scoring is scan-local regex/"
        "containment density, and the single pinned exchange is the "
        "per-paper primary-trend window. Cost scales with regex density "
        "per doc, never with shuffle width."
    ),
    "garbled_docs": (
        "The TeX-mojibake word scorer is one per-line lambda fold inside "
        "the scan stage; the ONLY exchange is the doc-keyed stats groupBy "
        "(map-side combinable). Probed linear at 1M docs — 46.9 s, "
        "SCALING rule 40."
    ),
    "paper_outcomes_docs": (
        "Pure scan-local expression tree (ZERO exchanges, test-pinned): "
        "the 100-char look-behind context re-derives from split-by-"
        "pattern parts with an offset fold (zip_with + aggregate running "
        "sum), so no positional UDF and no second pass over the text."
    ),
    "discovered_keywords": (
        "Candidate n-grams are one expression tree per doc — the stopword "
        "wall is a single anchored alternation evaluated once per word "
        "into a reused flag array, and the r07 trigram path binds the "
        "doc's matched priority-term SUBSET once (transform-over-"
        "singleton let-binding) so priority-free docs skip the build "
        "entirely; ONE keyword-keyed count shuffle after the explode."
    ),
    "rolling_active_users": (
        "Day-register HLL state: the corpus shuffles ONCE into bounded "
        "(day, bucket) register rows; the 7-day union is an explode of "
        "register rows (days x 256 x 7, corpus-independent) folded by "
        "register-wise max, then a closed-form estimate — no per-user "
        "window state, no sliding COUNT(DISTINCT)."
    ),
    "landmark_docs": (
        "The whole four-factor ladder plus the reason strings is ONE "
        "scan-local projection — lambda-free (concat_ws over per-slot "
        "whens, prefix-sum gate for the [:4] cap; SCALING rule 42) so "
        "codegen evaluates each slot once — and the >=50-citation gate "
        "folds into the parquet scan's filter. The global top-20 "
        "compiles to TakeOrderedAndProject: zero exchanges, no full "
        "sort, ever."
    ),
    "related_docs": (
        "ONE center-keyed shuffle serves the whole query: duplicate "
        "(center, related) rows are provably adjacent under the rank "
        "window's own sort (both carry the related paper's citation "
        "count), so the keep-first dedup is a lag check on that sort "
        "instead of a second (center, related)-partitioned window — "
        "measured 93 s -> 16 s per 15M edges when the extra shuffle "
        "was removed."
    ),
    "summary_parse_docs": (
        "ZERO exchanges: JSON routing is scan-local (try_parse_json "
        "validity + from_json extraction), and since r09 the text "
        "fallback is a per-document Arrow fold riding the same scan as "
        "one struct column — the fold is per-row, so the expression "
        "form's explode + doc-keyed window + pivot + join bought nothing "
        "but shuffle. One ArrowEvalPython (vectorized batch), no "
        "row-at-a-time Python."
    ),
}


def main() -> None:
    from vectordb_bioinsight_spark.plans.catalog import CATALOG
    from vectordb_bioinsight_spark.session import get_session

    spark = get_session("gen-plans-md", cpus=8)
    out = [
        "# PLANS — headline physical plans, audited",
        "",
        "Generated by `scripts/gen_plans_md.py` (re-run after plan-shape",
        "changes). Each section shows the FORMATTED physical plan at",
        f"`{SF_DIR}` with the audit claim the plan must support; structural",
        "regressions against these shapes fail `tests/test_plans.py`",
        "(exchange-count pins, zero-shuffle pins, TakeOrderedAndProject",
        "pins, and the catalog-wide unpartitioned-window gate).",
        "",
    ]
    for name, audit in AUDITS.items():
        fn = CATALOG[name][0]
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # keep the tree + the scan details (PushedFilters/ReadSchema), trim
        # per-node reiteration beyond the first scan blocks
        tree, _, details = plan.partition("\n\n")
        scans = re.findall(
            r"\(\d+\) Scan parquet[^\n]*\n(?:[^\n]+\n)+?(?=\n|\(\d+\))", details
        )
        out += [f"## {name}", "", audit, "", "```"]
        out += [tree.rstrip()]
        for s in scans[:2]:
            out += ["", s.rstrip()]
        out += ["```", ""]
    spark.stop()

    path = os.path.join(_REPO, "PLANS.md")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
