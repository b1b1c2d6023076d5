"""The `switch` and `conditional` processors.

A switch whose cases are each empty or one columnar `bloblang` mapping
runs as one projection of one scan (`routing.switch_projection`); any
other switch unions one filtered branch per case
(`routing.switch_branches`).  Both forms must give the same output.
"""

from __future__ import annotations

import os
import sys

import pytest
import yaml

from benthos_spark.operators.routing import switch_branches
from benthos_spark.stream import ConfigError, _apply_processor, compile_check

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ROWS = [(1, 30.0, "a", {"k": "x"}, None), (2, 150.0, "b", {}, None),
         (3, None, "c", {"k": "y"}, "earlier"), (4, 400.0, "a", {}, None),
         (5, 90.0, "b", {"k": "z"}, None), (6, 250.0, "c", {"k": "w"}, None)]
_SCHEMA = ("id BIGINT, value DOUBLE, kind STRING, "
           "meta MAP<STRING, STRING>, _error STRING")

_BIG = {"bloblang": 'root = this\nroot.lane = "big"'}
_SMALL = {"bloblang": 'root = this\nroot.lane = "small"'}

# (switch cases, whether they run as one projection)
_CASES = {
    "catch_all_last": ([
        {"check": "this.value > 100", "processors": [_BIG]},
        {"processors": [_SMALL]}], True),
    "no_catch_all_drops_unmatched": ([
        {"check": "this.value > 300", "processors": [_BIG]},
        {"check": "this.kind == \"a\"", "processors": [_SMALL]}], True),
    "catch_all_first_takes_every_row": ([
        {"processors": [_SMALL]},
        {"check": "this.value > 100", "processors": [_BIG]}], True),
    "deleted_in_a_case": ([
        {"check": "this.value > 100", "processors": [{"bloblang": (
            "root = this\n"
            "root = if this.value > 300 { deleted() }")}]},
        {"processors": [_SMALL]}], True),
    "field_of_one_case_and_an_empty_case": ([
        {"check": "this.kind == \"b\"", "processors": [{"bloblang": (
            "root = this\nroot.half = this.value / 2")}]},
        {"processors": []}], True),
    "error_flag": ([
        {"check": "this.value > 100", "processors": [{"bloblang": (
            "root = this\nroot.k = meta(\"k\")")}]},
        {"processors": [_SMALL]}], True),
    "meta_update": ([
        {"check": "this.kind == \"a\"", "processors": [{"bloblang": (
            "root = this\nmeta lane = \"big\"")}]},
        {"processors": [{"bloblang": (
            "root = this\nmeta k = deleted()")}]}], True),
    "projections_of_different_fields": ([
        {"check": "this.value > 100", "processors": [{"bloblang": (
            "root.id = this.id\nroot.big = this.value")}]},
        {"processors": [{"bloblang": (
            "root.small = this.kind\nroot.id = this.id")}]}], True),
    "types_differ_falls_back": ([
        {"check": "this.value > 100", "processors": [{"bloblang": (
            "root = this\nroot.x = 1")}]},
        {"processors": [{"bloblang": (
            "root = this\nroot.x = 1.5")}]}], False),
    "other_processor_falls_back": ([
        {"check": "this.value > 100",
         "processors": [{"bloblang": "root = this"},
                        {"filter": "this.id != 4"}]},
        {"processors": [_SMALL]}], False),
}


def _union(df, cases):
    """The union form of a switch, built directly."""
    def run(d, procs):
        for p in procs:
            d = _apply_processor(d, p)
        return d
    return switch_branches(df, [
        (compile_check(df, c["check"]) if c.get("check") else None,
         lambda d, procs=c.get("processors", []): run(d, procs))
        for c in cases])


def _rows(df):
    """(schema, rows in a fixed order); maps become sorted item lists."""
    rows = [tuple(sorted(v.items()) if isinstance(v, dict) else v
                  for v in row) for row in df.collect()]
    return ([(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            sorted(rows, key=repr))


def _is_union(df) -> bool:
    return "Union" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("name", sorted(_CASES))
def test_projection_equals_the_union(spark, name):
    cases, fused = _CASES[name]
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    out = _apply_processor(df, {"switch": cases})
    want = _union(df, cases)
    assert _is_union(out) is not fused
    assert _rows(out) == _rows(want)


@pytest.mark.parametrize("fused", [True, False])
def test_meta_assignments_edit_the_meta_map(spark, fused):
    cases = _CASES["meta_update"][0]
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    out = (_apply_processor(df, {"switch": cases}) if fused
           else _union(df, cases))
    assert "meta_lane" not in out.columns
    assert {r.id: r.meta for r in out.collect()} == {
        1: {"k": "x", "lane": "big"}, 2: {}, 3: {}, 4: {"lane": "big"},
        5: {}, 6: {}}


@pytest.mark.parametrize("fused", [True, False])
def test_error_flag_of_an_identity_mapping(spark, fused):
    cases = _CASES["error_flag"][0]
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    out = (_apply_processor(df, {"switch": cases}) if fused
           else _union(df, cases))
    assert {r.id: r._error for r in out.collect()} == {
        1: None, 2: "metadata value 'k' not found", 3: "earlier",
        4: "metadata value 'k' not found", 5: None, 6: None}


def test_conditional_is_one_projection(spark):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    out = _apply_processor(df, {"conditional": {
        "condition": {"bloblang": "this.value > 100"},
        "processors": [_BIG], "else_processors": [_SMALL]}})
    assert not _is_union(out)
    assert {r.id: r.lane for r in out.collect()} == {
        1: "small", 2: "big", 3: "small", 4: "big", 5: "small", 6: "big"}


def test_switch_fallthrough_is_rejected(spark):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    with pytest.raises(ConfigError, match="switch processor.*fallthrough"):
        _apply_processor(df, {"switch": [
            {"check": "this.value > 100", "processors": [_BIG],
             "fallthrough": True},
            {"processors": [_SMALL]}]})


def _file_scans(df) -> tuple[int, bool]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("FileScan"), "Union" in plan


def test_benchmark_stateless_shape_scans_once(spark, tmp_path):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        from workloads import STREAM_CONFIGS
    finally:
        sys.path.pop(0)
    spark.createDataFrame(
        [(i, None, i % 5, "click", float(i * 7), "{}") for i in range(40)],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING").write.parquet(str(tmp_path / "ev"))
    df = spark.read.parquet(str(tmp_path / "ev"))
    for p in yaml.safe_load(STREAM_CONFIGS["stream_stateless"][0]):
        df = _apply_processor(df, p)
    assert _file_scans(df) == (1, False)
    assert sorted(r.lane for r in df.collect()).count("big") == 25


def test_yaml_config_stream_scans_once(spark, sf_dir):
    import __spark_entry__ as entry

    df = entry.queries()["yaml_config_stream"](spark, sf_dir)
    assert _file_scans(df) == (1, False)


def _twice(v):
    return v * 2


@pytest.mark.parametrize("kind", ["window", "generator", "python_udf"])
def test_a_projection_that_is_not_row_wise_keeps_the_union(spark, kind):
    """A window or generator sees other rows, and a Python UDF would run
    on the rows of every case: such a case set is left to the union."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from benthos_spark.operators.routing import switch_projection

    col = {"window": lambda: F.count("*").over(Window.partitionBy("kind")),
           "generator": lambda: F.explode(F.array(F.lit(1), F.lit(2))),
           "python_udf": lambda: F.pandas_udf(_twice, "double")("value"),
           }[kind]()
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    cases = [(F.col("value") > 100, [("id", F.col("id")), ("x", col)], None),
             (None, [("id", F.col("id"))], None)]
    assert switch_projection(df, cases) is None
    cases[0][1][1] = ("x", F.lit(1.0))
    assert switch_projection(df, cases) is not None
