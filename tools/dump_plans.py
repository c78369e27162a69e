"""Emit PLANS.md: the formatted physical plan of each flagship query plus
the plan properties the engine asserts (shuffle count, pushed filters,
broadcast joins, top-k strategy) — reviewable evidence that the declared
scale discipline is what Catalyst actually planned.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF = "/root/testdata/sf0.01"

#: name -> one-line note on what the plan should show
FLAGSHIPS = {
    "sales_by_fiscal_month": (
        "fiscal cols via broadcast calendar-dim probe; dims broadcast; "
        "ONE agg shuffle"
    ),
    "sales_by_fiscal_week": "same spine, week-grain grouping",
    "top_products": "TakeOrderedAndProject (no global sort)",
    "regional_revenue": "5-way star join, dims broadcast",
    "small_quantity_revenue": "decorrelated scalar subquery (pre-agg + broadcast probe)",
    "purchase_last_click_asof": (
        "as-of via union + window: one exchange for the dedup pre-agg + one "
        "for the as-of window (the operator itself is single-shuffle)"
    ),
    "dedup_ngram_jaccard": "materialize-once shingle self-join",
    "revenue_rollup": "rollup grouping sets in one Expand + agg",
    "high_discount_lines": "filter pushed into parquet scan",
    "token_frequencies": "explode -> partial/final agg -> TakeOrdered",
    "mongo_region_quarter_revenue": (
        "Mongo pipeline frontend: $match pushes to scan, $group is one shuffle"
    ),
    "conversion_funnel": "funnel via one grouped pass, no per-step self-joins",
    "price_outlier_counts": "group moments via single-shuffle window, no agg join-back",
    "benchmark_decontam": (
        "decontamination: hashed 13-gram equi-join, eval side broadcast-eligible "
        "(threshold-gated, never forced), grouped hit counts"
    ),
    "corpus_shard_plan": (
        "shard packing: ONE window sort per language + grouped manifest, no UDF"
    ),
    "pii_redaction_report": "regex scrub entirely codegen'd; one agg shuffle",
    "dedup_cross_corpus": (
        "incremental dedup: asymmetric new x seen shingle join — no self-pairs "
        "on either side"
    ),
    "session_purchase_attribution": (
        "sessionize (one window) then binned interval join: equi-join on "
        "(user, time-bin) + post-filter — no nested-loop theta join"
    ),
    "purchase_nearby_clicks": (
        "banded range join via bins; outer semantics composed as agg + "
        "join-back, still equi-only"
    ),
    "events_multires_rollup": (
        "continuous-aggregate shape: raw scanned once (hour grain cached), "
        "day/month re-aggregate the finer level"
    ),
    "part_supply_concentration": (
        "Q20 shape decorrelated: one grouped agg + one window on the same "
        "key — no per-part re-probe of lineitem"
    ),
    "funnel_sequence_stages": (
        "subsequence NFA as a higher-order aggregate expression — one "
        "grouped pass, no EXISTS self-join per stage, no UDF"
    ),
    "corpus_weighted_sample": (
        "md5-derived priority + per-source top-k window: one shuffle, "
        "RNG-free"
    ),
    "user_state_history": (
        "SCD2 from events: gaps-and-islands in one window pass, single "
        "shuffle on the key, no self-join"
    ),
    "mongo_priority_monthly_running": (
        "$setWindowFields: one grouped agg + one window pass (rank, "
        "shift, running decimal sum, framed moving average together)"
    ),
    "mongo_customer_region_chain": (
        "$graphLookup BFS: one equi-join per level + grouped collect; "
        "unwound output stays a join plan"
    ),
    "span_dedup_docs": (
        "span dedup: chunk (narrow) -> ONE md5-census groupBy -> key join "
        "back; no self-join, no O(n^2)"
    ),
    "semantic_dedup_survivors": (
        "SemDeDup: broadcast-centroid min_by assignment, cell-keyed "
        "self-join (checkpointed), anti-join keep — never corpus^2"
    ),
    "ann_pq_topk": (
        "PQ-ADC: codebook lineage checkpointed; scoring is map lookups "
        "over broadcast query tables; exact rerank touches only "
        "|Q|*k*factor rows"
    ),
    "doc_chunks": (
        "RAG chunking: map-only sequence+slice windows, single "
        "posexplode, no shuffle"
    ),
    "part_name_near_pairs": (
        "entity resolution: dictionary collapse -> two-pass token "
        "blocking -> levenshtein verify inside the equi-join; never "
        "all-pairs"
    ),
    "doc_lm_perplexity": (
        "bigram-LM scoring: two count aggs (vocab-sized, broadcast by "
        "threshold) + one scoring join; no UDF, no iteration"
    ),
    "kll_mergeable_quantiles": (
        "two-level KLL rollup: leaf sketches once, global row merges "
        "sketch BINARIES — no fact rescan"
    ),
    "purchase_nearest_click_asof": (
        "nearest as-of: backward+forward windows share ONE hash "
        "exchange (two sorts), tie resolves backward"
    ),
    "activity_overlap_windows": (
        "interval x interval overlap: bin-keyed equi-join, pair emitted "
        "once in the overlap-start bin — no per-key cross join"
    ),
    "purchase_state_lookup": (
        "SCD2 point-in-time: contiguous validity -> backward as-of on "
        "valid_from, one shuffle, no interval explode"
    ),
}


def _existing_scale_notes() -> str | None:
    """Carry forward the hand-maintained '## Scale notes' sections from the
    CURRENT PLANS.md (everything from the first such heading up to the
    first flagship plan heading). Rounds append notes to PLANS.md directly;
    regeneration must not destroy them. Returns None when there are none."""
    path = os.path.join(REPO, "PLANS.md")
    try:
        text = open(path).read()
    except OSError:
        return None
    start = text.find("## Scale notes")
    if start < 0:
        return None
    first_flag = None
    for name in FLAGSHIPS:
        i = text.find(f"## {name}", start)
        if i >= 0 and (first_flag is None or i < first_flag):
            first_flag = i
    block = text[start:first_flag] if first_flag else text[start:]
    return block.rstrip()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF

    from nosql_based_business_intelligence_system_spark.plans import inspect as I
    from nosql_based_business_intelligence_system_spark.queries.registry import QUERIES
    from nosql_based_business_intelligence_system_spark.session import get_spark

    spark = get_spark()
    out = [
        "# PLANS — physical plans of flagship queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}` "
        "(regenerate after plan-affecting changes).",
        "",
    ]
    notes = _existing_scale_notes()
    if notes:
        out += [notes, ""]
    for name, note in FLAGSHIPS.items():
        df = QUERIES[name].fn(spark, sf_dir)
        shuffles = I.count_exchanges(df)
        props = [f"shuffles={shuffles}"]
        if I.has_broadcast_join(df):
            props.append("broadcast-join")
        if I.uses_take_ordered(df):
            props.append("take-ordered")
        from nosql_based_business_intelligence_system_spark.plans import doctor as D

        findings = D.diagnose(df, allow=D.QUERY_ALLOWS.get(name))
        doc_line = (
            "doctor: clean"
            if not findings
            else "doctor: "
            + "; ".join(f"[{f['severity']}] {f['rule']}" for f in findings)
        )
        out += [
            f"## {name}",
            "",
            f"*{note}* — `{', '.join(props)}` — {doc_line}",
            "",
            "```",
            I.explain_str(df, "formatted").strip(),
            "```",
            "",
        ]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(FLAGSHIPS)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
