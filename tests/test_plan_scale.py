"""Physical-plan audits: the 100 TB discipline, asserted.

Each assertion encodes a scale property from the build brief: filters
reach the parquet scan, projections prune the read schema, small dims
broadcast (no fact shuffle), aggregates run partial+final (map-side
combine), and no operator sneaks in an unbounded extra shuffle."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def plan_of(spark, sf_dir, name) -> str:
    # base_queries: one operator per name — suite hosts in queries()
    # union extra members (some deliberately 🐼) for the driver's
    # correctness sweep, which would pollute per-operator plan audits
    df = entry.base_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_predicate")
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "GreaterThan" in plan
    # the 4-column projection must prune the 16-column lineitem schema
    read = plan.split("ReadSchema:")[1]
    assert "l_comment" not in read and "l_orderkey" in read


def test_q1_partial_aggregation_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "partial_sum" in plan          # map-side combine
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_dim_joins_broadcast_not_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "lookup_join_enrich")
    assert "BroadcastHashJoin" in plan
    # the customer fact side must NOT be exchanged for the joins: the
    # only hash exchange is the final groupBy
    assert plan.count("Exchange hashpartitioning") == 1


def test_similarity_topk_is_partial_topk_kernel(spark, sf_dir):
    """r7 shape: brute-force top-k scores inside a mapInPandas kernel
    that emits only per-batch top-k per query, so the single exchange
    in the plan is the tiny window merge (partitions×q×k rows) — the
    corpus itself is never shuffled or joined."""
    plan = plan_of(spark, sf_dir, "similarity_topk")
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan             # no corpus-side join at all
    assert plan.count("Exchange") == 1    # only the window merge


def test_switch_routing_is_one_projection(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "switch_routing")
    # CASE routing must not materialize per-case branches: one scan
    assert plan.count("FileScan") == 1


def test_minhash_pairs_bucket_list_form_single_kernel(spark, sf_dir):
    # r10 shape: pair generation is ONE aggregation of the bucket key
    # (groupBy collect_list + posexplode + slice-explode), not a banded
    # self-join — the signature kernel must appear exactly once
    # (Catalyst re-executes Python subtrees per join input, which is
    # why the join form paid the kernel twice) and the corpus must be
    # scanned exactly once, with no join and no per-row window list
    df = entry.base_queries()["dedup_minhash_lsh"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # AQE toString prints "== Final Plan ==" then "== Initial Plan ==";
    # count nodes in the final section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1
    assert final.count("FileScan") == 1
    assert "Window" not in final
    assert "Join" not in final


def test_bloblang_mapping_stays_scan_projection(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "bloblang_compiled")
    assert plan.count("Exchange") == 0     # pure scan→filter→project
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan   # no Python in the hot path


def test_no_python_udfs_in_core_queries(spark, sf_dir):
    """Everything except the explicitly-🐼 operators must stay JVM-side."""
    for name in ["q1_pricing_summary", "string_methods", "text_analysis",
                 "doc_fingerprint", "window_tumbling", "sessionize",
                 "dedupe_first_wins", "topk_per_group", "yaml_config_stream"]:
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


@pytest.mark.parametrize("name", ["hash_sample", "dedup_exact"])
def test_single_scan_queries(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert plan.count("FileScan") == 1


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    # the 100 TB train side must meet the eval grams in a broadcast
    # hash join — never a corpus shuffle (SortMergeJoin)
    plan = plan_of(spark, sf_dir, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_shard_exchange(spark, sf_dir):
    # one hash exchange on the shard key; the window runs per-shard —
    # no global sort / single-partition window anywhere
    plan = plan_of(spark, sf_dir, "pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "partitionBy=[shard" not in plan or "Window" in plan


def test_mixture_sample_is_scan_plus_filter(spark, sf_dir):
    # map-only: no exchange of any kind; 2-column read schema
    plan = plan_of(spark, sf_dir, "mixture_sample")
    assert "Exchange" not in plan
    read = plan.split("ReadSchema:")[1]
    assert "text" not in read and "doc_id" in read


def test_repetition_is_zero_shuffle_kernel(spark, sf_dir):
    # r5: all three repetition signals compute per-doc inside one
    # mapInPandas kernel — no explode, no gram shuffle at all
    plan = plan_of(spark, sf_dir, "text_repetition")
    assert "MapInPandas" in plan
    assert "Exchange hashpartitioning" not in plan


# ---- LLM flagship plan shapes (r5 verdict ask #7): pin the three most
# expensive LLM plans so the r5 kernel wins can't silently regress.

def test_curation_pipeline_all_broadcast_junctions(spark, sf_dir):
    """COVERAGE claim: every quality→dedup→decontam junction is a
    broadcast semi/anti join — the corpus side is NEVER sort-merge
    shuffled, and no row-at-a-time Python appears anywhere."""
    plan = plan_of(spark, sf_dir, "curation_pipeline")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the only hash exchanges are the bounded dedup-verdict aggregates,
    # not corpus re-distributions — pin the count so a new junction
    # can't silently add one
    assert plan.count("Exchange hashpartitioning") <= 4


def test_bloom_decontaminate_zero_corpus_shuffle(spark, sf_dir):
    """COVERAGE claim: the corpus is probed against the ≤2 MB broadcast
    Bloom bitset inside ONE map-only kernel — no data shuffle (the
    only exchange permitted is ensure_scan_parallelism's round-robin
    floor on the fixture's single-row-group file), one scan, no join
    operator at all."""
    plan = plan_of(spark, sf_dir, "bloom_decontaminate")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "MapInPandas" in plan
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_dsir_weights_zero_shuffle_map_only(spark, sf_dir):
    """COVERAGE claim (r5): per-doc DSIR weights sum inside the gram
    kernel — zero shuffles; the final top-k is TakeOrdered (per-
    partition heads + driver merge), never a global sort exchange.
    The round-robin parallelism floor on the fixture's one-row-group
    file is the only exchange allowed."""
    plan = plan_of(spark, sf_dir, "dsir_select")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "MapInPandas" in plan
    assert "TakeOrderedAndProject" in plan


def test_ensure_scan_parallelism_floor_and_noop(spark, tmp_path):
    """ensure_scan_parallelism: an under-partitioned scan (single
    row-group file) is repartitioned to default parallelism; an
    already-parallel frame passes through untouched (same plan, no
    Exchange added)."""
    from benthos_spark.operators.scale import ensure_scan_parallelism

    p = str(tmp_path / "one.parquet")
    spark.range(0, 10_000).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    assert narrow.rdd.getNumPartitions() <= 2
    floored = ensure_scan_parallelism(narrow)
    assert (floored.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    assert floored.count() == 10_000

    wide = spark.range(0, 1000, numPartitions=64)
    assert ensure_scan_parallelism(wide) is wide


def test_ensure_scan_parallelism_walks_nodes_not_strings(spark, tmp_path):
    """Derived-frame detection is by plan NODE NAME, not rendered-plan
    substrings: a column literally named 'JoinKey' must not suppress
    the floor, and shuffle-introducing shapes outside the old denylist
    (Expand from rollup, Deduplicate from dropDuplicates) must be
    treated as derived — the .rdd call on those re-triggers AQE's
    hidden-execution trap this guard exists to prevent."""
    from benthos_spark.operators.scale import ensure_scan_parallelism

    p = str(tmp_path / "jk.parquet")
    spark.range(0, 5_000).selectExpr(
        "id AS JoinKey", "id % 7 AS SortedBucket").coalesce(
        1).write.parquet(p)
    scan = spark.read.parquet(p).filter("JoinKey > 10")
    floored = ensure_scan_parallelism(scan)
    assert (floored.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)

    base = spark.read.parquet(p)
    rolled = base.rollup("SortedBucket").count()
    assert ensure_scan_parallelism(rolled) is rolled
    deduped = base.dropDuplicates(["SortedBucket"])
    assert ensure_scan_parallelism(deduped) is deduped


# ---- TPC-H flagship plan shapes (VERDICT r4 ask #8): pin the COVERAGE
# claims so a Spark upgrade or refactor can't silently regress them.

def test_q19_pushes_bounds_to_both_scans_zero_shuffle(spark, sf_dir):
    """COVERAGE claim: the three-branch brand/size/quantity disjunction
    derives bounds that Catalyst pushes to BOTH scans; zero shuffles."""
    plan = plan_of(spark, sf_dir, "q19_disjunctive_revenue")
    assert plan.count("Exchange hashpartitioning") == 0
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # lineitem scan carries the derived quantity envelope …
    li = next(l for l in plan.splitlines()
              if "FileScan" in l and "l_quantity" in l)
    assert "l_quantity" in li and (">= 1.0" in li or "GreaterThanOrEqual"
                                   in li)
    # … and the part scan carries the brand/size disjunction bounds
    pt = next(l for l in plan.splitlines()
              if "FileScan" in l and "p_brand" in l)
    assert "p_size" in pt and "p_brand" in pt


def test_q21_single_fact_aggregate_all_broadcast(spark, sf_dir):
    """COVERAGE claim (r10 form): the EXISTS/NOT-EXISTS pair is
    decorrelated into ONE per-(order,supplier) aggregate with the
    per-order qualifiers as window aggregates over it — ONE lineitem
    scan, no correlated re-probes of the fact, every join a
    broadcast."""
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2  # orders, supplier
    # exactly: per-(order,supp) agg, the per-order window, the final
    # s_name agg
    assert plan.count("Exchange hashpartitioning") == 3
    assert plan.count("FileScan") == 3           # ONE lineitem scan
    assert "Window" in plan
    assert "partial_sum" in plan            # map-side combine
    # the F-status filter reaches its scan (the R flag is consumed by
    # the aggregate now, not a scan filter — by design: the aggregate
    # needs non-R rows to count suppliers)
    assert any("o_orderstatus" in l and "= F" in l
               for l in plan.splitlines() if "FileScan" in l)


def test_q9_single_shuffle_all_dims_broadcast(spark, sf_dir):
    """COVERAGE claim: LIKE-filtered part + supplier→nation broadcast;
    the ONLY hash shuffle is the final (nation, year) groupBy."""
    plan = plan_of(spark, sf_dir, "q9_product_profit")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    # the LIKE('%bolt%') prunes part BEFORE the join, at the scan
    assert any("p_name" in l and "bolt" in l
               for l in plan.splitlines() if "FileScan" in l)


def test_q2_decorrelated_window_min_single_shuffle(spark, sf_dir):
    """COVERAGE claim (r6): the correlated min-cost subquery is
    DECORRELATED into a window-min over the part-filtered cost frame —
    the ONLY hash exchange is the window's partkey hash; the
    supplier→nation→region chain broadcasts; the LIMIT rides
    TakeOrdered, never a global sort exchange."""
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # part's type/size predicates reach the scan BEFORE the ×4 expansion
    assert any("p_type" in l and "p_size" in l
               for l in plan.splitlines() if "FileScan" in l)


def test_q11_integer_cents_threshold_broadcast(spark, sf_dir):
    """COVERAGE claim (r6): the scale-invariant value threshold is a
    one-row broadcast over the same partkey aggregate — no sort-merge
    join anywhere, and the per-part aggregate combines map-side."""
    plan = plan_of(spark, sf_dir, "q11_important_stock")
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan            # map-side combine
    # partkey agg for g, its recompute under tot (ReuseExchange-
    # eligible at runtime), and nothing else
    assert plan.count("Exchange hashpartitioning") <= 2
    assert ("BroadcastHashJoin" in plan
            or "BroadcastNestedLoopJoin" in plan)


def test_q20_one_fact_shuffle_derived_partsupp_broadcast(spark, sf_dir):
    """COVERAGE claim (r6): lineitem is date-pruned at the scan and
    semi-joined to the broadcast blue-part dim BEFORE its (part,supp)
    aggregate; the derived partsupp side is map-only (×4 explode of the
    same broadcast dim) — the fact aggregate is the only unavoidable
    shuffle and no join sort-merges the fact."""
    plan = plan_of(spark, sf_dir, "q20_potential_promotion")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # date bounds reach the lineitem scan
    assert any("l_shipdate" in l for l in plan.splitlines()
               if "FileScan" in l and "lineitem" in l)
    # blue% reaches the part scan
    assert any("p_name" in l and "blue" in l
               for l in plan.splitlines() if "FileScan" in l)
    # (part,supp) ship agg + the DISTINCT on candidate suppliers — no
    # third corpus shuffle may appear
    assert plan.count("Exchange hashpartitioning") <= 3


def test_star_edges_one_window_exchange_no_self_join(spark, sf_dir):
    """r7 pin of the r6 scale win: the linear-output star-edge surface
    must stay a window-min over ONE hash exchange on (band, band_key)
    plus the distinct's exchange — never the pairs SELF-JOIN it
    replaced (which is O(bucket²) output and re-shuffles both sides).
    A refactor reintroducing a join here silently re-creates the
    boilerplate-bucket cliff the sf3 curve caught."""
    plan = plan_of(spark, sf_dir, "dedup_star_edges")
    assert "Join" not in plan                       # no self-join, ever
    assert plan.count("Window [") == 1              # one window min
    assert plan.count("Exchange hashpartitioning") == 2  # window + distinct


def test_connected_components_one_job_per_round(spark):
    """r7 pin of the r6 Observation win: each CC round must be ONE
    Spark action (the eager localCheckpoint; the convergence metric
    rides it as an `observe`).  The pre-r6 shape ran a SEPARATE
    .agg().first() action per round — with AQE disabled that doubles
    the job count, so pinning the exact count catches it.  With
    alternating-star rounds the clique takes exactly 2 rounds: round
    1 turns it into the star rooted at 0, round 2 finds the same edge
    set (the fixpoint).  1 edge-checkpoint job + 2 round jobs = 3.
    (AQE is turned off for the measurement only because it splits one
    action into several stage-materialization jobs, which would make
    the count environment-sensitive.)"""
    from benthos_spark.llm.dedup import connected_components

    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc = spark.sparkContext
        edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3), (1, 2)],
                                      "id_a long, id_b long")
        sc.setJobGroup("cc_job_pin", "one job per CC round")
        cc = connected_components(edges)
        sc.setJobGroup(None, None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc_job_pin"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert {(r.doc_id, r.component) for r in cc.collect()} == \
        {(0, 0), (1, 0), (2, 0), (3, 0)}
    assert n_jobs == 3, f"expected 1 setup + 2 round jobs, got {n_jobs}"


def test_c4_clean_is_map_only(spark, sf_dir):
    """C4 page cleaning is a pure scan→filter→project pipeline: one
    scan, zero exchanges, zero Python — the 100 TB cost is the scan."""
    plan = plan_of(spark, sf_dir, "c4_line_clean")
    assert plan.count("FileScan") == 1
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_boilerplate_strip_broadcasts_frequent_lines(spark, sf_dir):
    """The corpus side is never sort-merge shuffled: per-doc line
    dedup is map-side (array_distinct before the explode), document
    frequency is ONE line groupBy (+ the tiny per-group doc counts and
    bp-set aggregates), and the strip pass broadcast-joins one
    boilerplate array per group onto the docs."""
    plan = plan_of(spark, sf_dir, "boilerplate_line_strip")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "EvalPython" not in plan


def test_ivf_pq_plan_pruned_scan_codegen_adc(spark, sf_dir):
    """IVF-PQ (r8): the ADC stage is a pruned scan + whole-stage-
    codegen CASE-over-__list scoring — the corpus is never
    sort-merge-shuffled and never joined for scoring (the only joins
    are the two BROADCASTS that fetch raw vectors for the q×shortlist
    rerank rows), and the probed-list restriction is a static
    isin/In filter that partition-prunes a write_ivf_index layout."""
    plan = plan_of(spark, sf_dir, "similarity_ivf_pq_topk")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # r9: pruning moved INSIDE the fused assign+encode kernel
    # (_assign_encode_kernel drops non-probed rows before encoding),
    # so the only Python stage is that single fused MapInPandas —
    # the rerank is now a JVM zip_with/aggregate fold, not a UDF
    assert plan.count("MapInPandas") == 1
    assert plan.count("EvalPython") == 0
    assert "BatchEvalPython" not in plan


def test_ivf_pq_index_plan_no_training_no_encode(spark, sf_dir):
    """The materialized-index variant (r8 verdict ask #2) must show
    the DEPLOYMENT plan: a parquet scan PARTITION-PRUNED to the
    probed lists (PartitionFilters on __list), codegen ADC with no
    corpus shuffle/join, and NO Python encode stage — the only
    Python is the single Arrow rerank kernel; codes and quantizers
    come from the index, never from per-query training."""
    plan = plan_of(spark, sf_dir, "similarity_ivf_pq_index_topk")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "PartitionFilters" in plan and "__list" in plan
    # pq_encode's MapInPandas must NOT appear — codes are read, not
    # computed; r9: the rerank is a JVM zip_with/aggregate fold, so
    # the deployment plan now has ZERO Python stages of any kind
    assert "MapInPandas" not in plan
    assert plan.count("EvalPython") == 0
    assert "BatchEvalPython" not in plan
