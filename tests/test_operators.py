"""Operator-level unit tests (reference: lib/processor/*_test.go model —
small inline fixtures, exact expected outputs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from benthos_spark.operators import (archive_join, bounds_check,
                                     cache_lookup_join, dedupe, filter_op,
                                     hash_sample, merge_json, sample,
                                     select_parts, sharded_join,
                                     split_batches, switch_case,
                                     unarchive_explode)
from benthos_spark.operators.routing import insert_part, switch_branches


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_filter_op(spark):
    df = _df(spark, [(1, "a"), (2, "b"), (3, "a")], "id INT, tag STRING")
    out = filter_op(df, F.col("tag") == "a").collect()
    assert sorted(r.id for r in out) == [1, 3]


def test_bounds_check(spark):
    df = _df(spark, [("x",), ("hello",), ("toolongvalue",)], "s STRING")
    out = bounds_check(df, F.length("s"), 2, 8).collect()
    assert [r.s for r in out] == ["hello"]


def test_sample_deterministic(spark):
    df = spark.range(1000)
    a = sample(df, 0.1, seed=7).collect()
    b = sample(df, 0.1, seed=7).collect()
    assert [r.id for r in a] == [r.id for r in b]
    assert 40 < len(a) < 200


def test_hash_sample_partition_of_space(spark):
    """Retain [0,30) + [30,100) == everything, no overlap (the reference
    guarantees deterministic, non-overlapping hash ranges)."""
    df = spark.range(500).select(F.col("id").cast("string").alias("k"))
    lo = hash_sample(df, F.col("k"), 0.0, 30.0).collect()
    hi = hash_sample(df, F.col("k"), 30.0, 100.0).collect()
    assert len(lo) + len(hi) == 500
    assert not {r.k for r in lo} & {r.k for r in hi}


def test_dedupe_first_wins_by_order(spark):
    df = _df(spark, [("k1", 3, "c"), ("k1", 1, "a"), ("k1", 2, "b"),
                     ("k2", 9, "z")], "k STRING, seq INT, v STRING")
    out = dedupe(df, ["k"], order_by=[F.col("seq")]).collect()
    got = {r.k: r.v for r in out}
    assert got == {"k1": "a", "k2": "z"}


def test_dedupe_no_order_any_winner(spark):
    df = _df(spark, [("k", 1), ("k", 2)], "k STRING, v INT")
    out = dedupe(df, ["k"]).collect()
    assert len(out) == 1


def test_switch_case_first_match_wins(spark):
    df = _df(spark, [(250000, "F"), (100, "F"), (250000, "O"), (100, "O")],
             "price INT, status STRING")
    route = switch_case([
        ((F.col("status") == "F") & (F.col("price") > 200000), F.lit("big_f")),
        (F.col("status") == "F", F.lit("small_f")),
        (F.col("price") > 200000, F.lit("big_other")),
        (None, F.lit("rest")),
    ], alias="route")
    out = {(r.price, r.status): r.route
           for r in df.select("price", "status", route).collect()}
    assert out == {(250000, "F"): "big_f", (100, "F"): "small_f",
                   (250000, "O"): "big_other", (100, "O"): "rest"}


def test_switch_branches_routes_and_unions(spark):
    df = _df(spark, [(1,), (2,), (3,), (4,)], "id INT")
    out = switch_branches(df, [
        (F.col("id") % 2 == 0,
         lambda d: d.withColumn("lane", F.lit("even"))),
        (None, lambda d: d.withColumn("lane", F.lit("odd"))),
    ])
    got = {r.id: r.lane for r in out.collect()}
    assert got == {1: "odd", 2: "even", 3: "odd", 4: "even"}


def test_switch_checkless_case_takes_every_remaining_row(spark):
    """A case without a check takes every row that reaches it, so later
    cases are unreachable (the reference's first-match scan); a NULL
    check counts as false.  The one-projection form agrees."""
    from benthos_spark.operators.routing import switch_projection

    df = _df(spark, [(1,), (2,), (3,), (4,), (None,)], "id INT")
    checks = [F.col("id") == 1, None, F.col("id") == 4]
    lanes = ["one", "rest", "four"]
    union = switch_branches(df, [
        (c, lambda d, lane=lane: d.withColumn("lane", F.lit(lane)))
        for c, lane in zip(checks, lanes)])
    fused = switch_projection(df, [
        (c, [("id", F.col("id")), ("lane", F.lit(lane))], None)
        for c, lane in zip(checks, lanes)])
    want = [(None, "rest"), (1, "one"), (2, "rest"), (3, "rest"),
            (4, "rest")]
    for out in (union, fused):
        assert sorted((tuple(r) for r in out.collect()),
                      key=lambda t: (t[0] is not None, t)) == want


def test_split_batches_shapes(spark):
    df = spark.range(10).select(F.col("id"))
    out = split_batches(df, 4, [F.col("id")], global_order=True).collect()
    by_batch = {}
    for r in out:
        by_batch.setdefault(r.batch_id, []).append(r.part_index)
    assert sorted(by_batch[0]) == [0, 1, 2, 3]
    assert sorted(by_batch[2]) == [0, 1]


def test_split_batches_sharded_default(spark):
    """Default split is sharded: every row lands in exactly one batch,
    each batch has ≤ size parts with contiguous indexes, batches only
    fill within a shard, and the physical plan carries the row_number
    window on a hash-partitioned exchange — NOT SinglePartition."""
    df = spark.range(1000).select(F.col("id"))
    batched = split_batches(df, 7, [F.col("id")], n_shards=8)
    rows = batched.collect()
    assert len(rows) == 1000
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, []).append(r.part_index)
    for parts in by_batch.values():
        assert sorted(parts) == list(range(len(parts)))
        assert len(parts) <= 7
    shards = {b >> 40 for b in by_batch}
    assert len(shards) > 1  # work spread over shards
    plan = batched._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_select_parts(spark):
    df = spark.range(6).select(
        F.lit(0).alias("g"), F.col("id").cast("int").alias("part_index"))
    out = select_parts(df, [0, 2]).collect()
    assert sorted(r.part_index for r in out) == [0, 2]


def test_select_parts_negative(spark):
    df = spark.range(6).select(
        (F.col("id") % 2).alias("g"), F.col("id").cast("int"))
    from pyspark.sql import Window as W
    df = df.withColumn("part_index", F.row_number().over(
        W.partitionBy("g").orderBy("id")) - 1)
    out = select_parts(df, [-1], batch_col="g").collect()
    assert sorted(r.part_index for r in out) == [2, 2]  # last of each batch
    import pytest
    with pytest.raises(ValueError, match="batch_col"):
        select_parts(df, [-1])


def test_insert_part(spark):
    df = _df(spark, [(1, "a")], "id INT, v STRING")
    extra = _df(spark, [(99, "tail")], "id INT, v STRING")
    out = insert_part(df, extra).collect()
    assert sorted(r.id for r in out) == [1, 99]


def test_archive_join_ordered(spark):
    df = _df(spark, [("g", 2, "b"), ("g", 1, "a"), ("g", 3, "c")],
             "g STRING, o INT, v STRING")
    out = archive_join(df, ["g"], F.col("v"), F.col("o"), delimiter=",")
    assert out.collect()[0].archived == "a,b,c"


def test_unarchive_explode_preserves_position(spark):
    df = _df(spark, [("d1", "a b c")], "id STRING, text STRING")
    out = unarchive_explode(df, F.split("text", " ")).collect()
    got = [(r.part_index, r.content) for r in out]
    assert got == [(0, "a"), (1, "b"), (2, "c")]


def test_merge_json_gabs_collisions_append(spark):
    # gabs Merge: leaf-key collisions accumulate into arrays in part
    # order (lib/processor/merge_json.go)
    df = _df(spark, [("g", 1, {"a": "1", "b": "1"}),
                     ("g", 2, {"b": "2", "c": "2"})],
             "g STRING, seq INT, doc MAP<STRING,STRING>")
    out = merge_json(df, ["g"], F.col("doc"), F.col("seq")).collect()
    assert out[0].merged == '{"a":"1","b":["1","2"],"c":"2"}'


def test_sharded_join_full_outer(spark):
    left = _df(spark, [(1, "l1"), (2, "l2")], "k INT, lv STRING")
    right = _df(spark, [(2, "r2"), (3, "r3")], "k INT, rv STRING")
    out = sharded_join(left, right, on="k", how="full_outer").collect()
    got = {r.k: (r.lv, r.rv) for r in out}
    assert got == {1: ("l1", None), 2: ("l2", "r2"), 3: (None, "r3")}


def test_cache_lookup_join_broadcasts(spark):
    fact = _df(spark, [(1, 10), (2, 20), (9, 90)], "k INT, v INT")
    dim = _df(spark, [(1, "one"), (2, "two")], "k INT, name STRING")
    out = cache_lookup_join(fact, dim, on="k", how="left")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # point of the operator: no fact shuffle
    got = {r.k: r.name for r in out.collect()}
    assert got == {1: "one", 2: "two", 9: None}


def test_asof_join_semantics_and_plan(spark):
    from benthos_spark.operators.joins import asof_join
    left = spark.createDataFrame(
        [(1, "u1", 10.0), (2, "u1", 25.0), (3, "u2", 5.0)],
        "id LONG, k STRING, lts DOUBLE")
    right = spark.createDataFrame(
        [("u1", 10.0, "a"), ("u1", 20.0, "b"), ("u2", 99.0, "z")],
        "k STRING, lts DOUBLE, v STRING")
    out = asof_join(left, right, on="k", ts="lts")
    got = {r.id: (r.v_asof, r.lts_asof) for r in out.collect()}
    # equal ts matches (<=); later right rows don't leak backward;
    # no prior right row → nulls
    assert got == {1: ("a", 10.0), 2: ("b", 20.0), 3: (None, None)}
    # each input shuffles once into the window partitioning (one
    # exchange per union branch, both on the key); nothing re-shuffles
    # after the window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
