"""Physical-plan audit: sweep every registered query and flag the
scale anti-patterns the 100 TB design rules forbid:

  * CartesianProduct / BroadcastNestedLoopJoin  (all-pairs blowup)
  * SinglePartition window exchanges            (global-sort bottleneck)
  * parquet scans with no pushed filters WHEN the query filters
    (pushdown broken)
  * row-at-a-time PythonUDF in the plan (BatchEvalPython) — Arrow
    (ArrowEvalPython / mapInPandas) is the only sanctioned Python

Prints one line per query; exit 1 if any query trips a hard rule.
Queries may declare expected exceptions in ALLOW below, each with the
reason a human can audit.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query → (pattern, reason) pairs that are intentional
ALLOW: dict[str, list[tuple[str, str]]] = {
    "q1_pricing_summary": [
        ("SinglePartition",
         "TPC-H Q1's 6-group result: partial aggregation is "
         "distributed; the final 6-row combine is one partition by "
         "construction"),
        ("BroadcastNestedLoopJoin",
         "suite host: inherits q22's one-row global-average scalar "
         "cross"),
    ],
    "q6_forecast_revenue": [
        ("SinglePartition",
         "global single-row aggregate: map-side partials are "
         "distributed, the final combine is one row"),
    ],
    "q14_promo_effect": [
        ("SinglePartition",
         "global single-row aggregate, same shape as Q6"),
    ],
    "similarity_topk": [
        ("BroadcastNestedLoopJoin",
         "brute-force baseline: few broadcast queries × corpus scan is "
         "the documented exact path"),
    ],
    "split_batches": [
        ("SinglePartition",
         "final single-row LIMIT/agg in the gate query, not the window"),
    ],
    "lm_frequency_mass": [
        ("BroadcastNestedLoopJoin",
         "ONE-ROW corpus-total aggregate crossed into every doc row — "
         "a broadcast scalar, not a data-sized loop join"),
        ("SinglePartition",
         "the same one-row total aggregate"),
    ],
    "text_repetition": [
        ("BroadcastNestedLoopJoin",
         "suite host: inherits lm_frequency_mass's one-row scalar cross"),
        ("SinglePartition", "same inherited scalar aggregate"),
    ],
    "dedup_ngram_jaccard": [
        ("BroadcastNestedLoopJoin",
         "ONE-ROW corpus count(*) crossed into the posting frame to "
         "compute the scale-invariant max_df_frac cutoff — a broadcast "
         "scalar, not a data-sized loop join"),
        ("SinglePartition", "the same one-row count aggregate"),
    ],
    "curation_pipeline": [
        ("SinglePartition",
         "Spark-injected runtime bloom_filter_agg subqueries that "
         "pre-prune the semi/anti join probe sides — the optimizer's "
         "own join pruning, a one-row filter build, not a data-sized "
         "global exchange"),
    ],
    "gopher_quality": [
        ("SinglePartition",
         "suite host: inherits curation_pipeline's bloom-filter join "
         "pruning subqueries"),
    ],
    "bm25_search": [
        ("BroadcastNestedLoopJoin",
         "ONE-ROW (n_docs, dl_sum) corpus-stats aggregate crossed into "
         "the query-pruned postings — a broadcast scalar"),
        ("SinglePartition", "the same one-row stats aggregate"),
    ],
    "lm_bigram_score": [
        ("BroadcastNestedLoopJoin",
         "ONE-ROW corpus-total aggregate crossed into the token "
         "stream — a broadcast scalar, not a data-sized loop join"),
        ("SinglePartition", "the same one-row total aggregate"),
    ],
    "q15_top_supplier": [
        ("SinglePartition",
         "MAX(total_revenue) scalar subquery: per-supplier partials "
         "are distributed, the final max is one row broadcast back"),
    ],
    "q17_small_quantity_revenue": [
        ("SinglePartition",
         "global single-row aggregate output, same shape as Q6"),
    ],
    "q19_disjunctive_revenue": [
        ("SinglePartition",
         "global single-row aggregate output, same shape as Q6"),
    ],
    "q22_dormant_customers": [
        ("BroadcastNestedLoopJoin",
         "ONE-ROW global-average aggregate crossed into the filtered "
         "customer dim — a broadcast scalar, not a data-sized loop"),
        ("SinglePartition", "the same one-row average aggregate"),
    ],
    "q2_min_cost_supplier": [
        ("BroadcastNestedLoopJoin",
         "ONE-ROW supplier COUNT crossed into part to derive the "
         "partsupp stride — a broadcast scalar, not a data-sized loop"),
        ("SinglePartition",
         "the same one-row count, plus the total-ordered LIMIT 100 "
         "top-k collect"),
    ],
    "q11_important_stock": [
        ("BroadcastNestedLoopJoin",
         "two ONE-ROW scalars: the partsupp-stride supplier count and "
         "the Q11 total-value threshold — broadcast scalars both"),
        ("SinglePartition", "the same one-row aggregates"),
    ],
    "q20_potential_promotion": [
        ("BroadcastNestedLoopJoin",
         "ONE-ROW supplier COUNT crossed into the blue-part dim to "
         "derive partsupp — a broadcast scalar"),
        ("SinglePartition", "the same one-row count aggregate"),
    ],
}

HARD = ("CartesianProduct",)
SOFT = ("BroadcastNestedLoopJoin", "SinglePartition", "BatchEvalPython")


def main() -> int:
    import __spark_entry__ as entry
    from benthos_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan-audit")
    failures = 0
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            print(f"ERR  {name}: {str(e)[:120]}")
            failures += 1
            continue
        allowed = {p for p, _ in ALLOW.get(name, [])}
        hits = []
        for pat in HARD + SOFT:
            if pat in plan and pat not in allowed:
                hits.append(pat + ("!" if pat in HARD else ""))
        if hits:
            print(f"FLAG {name}: {', '.join(hits)}")
            if any(h.endswith("!") for h in hits):
                failures += 1
        else:
            print(f"ok   {name}")
    print(f"\n{failures} hard failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
