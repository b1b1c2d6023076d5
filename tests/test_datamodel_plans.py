"""Message data model + try/catch error protocol + workflow DAG tests.

Reference semantics under test: part metadata (lib/types/message.go:18),
the failure flag (lib/types/message.go:12), try skipping flagged parts
(lib/processor/try.go), catch recovering only flagged parts
(lib/processor/catch.go), workflow topological ordering
(lib/processor/workflow_branch_map.go:272-301)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from benthos_spark.datamodel import (errored, meta_get, meta_set,
                                     rows_to_messages, to_messages,
                                     with_error)
from benthos_spark.plans import catch_stage, try_stages
from benthos_spark.plans.workflow import topo_sort, workflow


def test_to_messages_shape(spark):
    df = spark.range(3)
    msgs = to_messages(df, F.to_json(F.struct("id")))
    row = msgs.filter(F.col("content").contains('"id":1')).collect()[0]
    assert row.batch_id == 0 and row.part_index == 0
    assert row.meta == {} and row._error is None


def test_rows_to_messages_batch_indexing(spark):
    msgs = rows_to_messages(spark, [
        {"content": "a", "batch_id": 0},
        {"content": "b", "batch_id": 0},
        {"content": "c", "batch_id": 1, "meta": {"k": "v"}},
    ])
    got = {(r.batch_id, r.part_index): r for r in msgs.collect()}
    assert set(got) == {(0, 0), (0, 1), (1, 0)}
    assert got[(1, 0)].meta == {"k": "v"}


def test_meta_set_get(spark):
    msgs = rows_to_messages(spark, [{"content": "x", "meta": {"a": "1"}}])
    out = meta_set(msgs, "b", F.lit(2))
    row = out.select(meta_get("a").alias("a"), meta_get("b").alias("b"),
                     meta_get("zz").alias("zz")).collect()[0]
    assert (row.a, row.b, row.zz) == ("1", "2", None)
    # overwrite existing key
    row2 = meta_set(out, "a", F.lit("9")).select(
        meta_get("a").alias("a")).collect()[0]
    assert row2.a == "9"


def test_with_error_new_error_replaces_old(spark):
    """FlagErr (lib/processor/util.go) overwrites the flag key: the
    later error is the one a part carries."""
    msgs = rows_to_messages(spark, [{"content": "x"}])
    flagged = with_error(msgs, F.lit(True), "first")
    flagged = with_error(flagged, F.lit(True), "second")
    assert flagged.collect()[0]._error == "second"
    assert flagged.select(errored().alias("e")).collect()[0].e is True


def test_try_skips_errored_catch_recovers(spark):
    msgs = rows_to_messages(spark, [{"content": "ok"}, {"content": "bad"}])
    flagged = with_error(msgs, F.col("content") == "bad", "boom")

    # try stage: only non-errored rows get transformed
    tried = try_stages(
        flagged, lambda d: d.withColumn("content", F.upper("content")))
    got = {r.content: r._error for r in tried.collect()}
    assert got == {"OK": None, "bad": "boom"}

    # catch: recover only errored rows, clear the flag
    recovered = catch_stage(
        tried, lambda bad: bad.withColumn("content", F.lit("recovered")))
    got = {r.content: r._error for r in recovered.collect()}
    assert got == {"OK": None, "recovered": None}


def test_workflow_topo_sort_and_cycle():
    order = topo_sort({"c": ["a", "b"], "b": ["a"], "a": []})
    assert order.index("a") < order.index("b") < order.index("c")
    with pytest.raises(ValueError, match="[Cc]ycl"):
        topo_sort({"a": ["b"], "b": ["a"]})


def test_workflow_runs_in_dependency_order(spark):
    df = spark.range(3).select(F.col("id"))
    out = workflow(df, {
        "double": (["base"], lambda d: d.withColumn("d2", F.col("b") * 2)),
        "base": ([], lambda d: d.withColumn("b", F.col("id") + 10)),
    })
    got = {r.id: (r.b, r.d2) for r in out.collect()}
    assert got == {0: (10, 20), 1: (11, 22), 2: (12, 24)}
