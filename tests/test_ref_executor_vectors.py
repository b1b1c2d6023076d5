"""Golden gate over the reference's mapping-executor test table.

tests/golden/ref_executor_cases.json is extracted verbatim from
internal/bloblang/mapping/executor_test.go TestAssignments
(tools/extract_ref_executor_tests.py): each Go-constructed Executor is
rendered back to Bloblang text and replayed through this engine's own
parser + compiler over a message-shaped frame (content/meta columns).

Contract checked per case:
  output == {content, meta}  → the part's rewritten content and meta
  output == None, no err     → the part is deleted (row dropped)
  err == True                → the part is failed: `_error` set with the
                               original content passed through (the
                               processor contract, executor.go MapPart
                               returning an error), or a plan-time raise
"""

from __future__ import annotations

import json
import os

import pytest

VECTORS = os.path.join(os.path.dirname(__file__), "golden",
                       "ref_executor_cases.json")

SKIP = {}


def _cases():
    out = []
    for c in json.load(open(VECTORS)):
        marks = ()
        if "unsupported" in c:
            marks = (pytest.mark.skip(reason=c["unsupported"]),)
        out.append(pytest.param(c, id=c["name"].replace(" ", "_"),
                                marks=marks))
    return out


@pytest.mark.parametrize("case", _cases())
def test_executor_case(spark, case):
    from pyspark.sql import types as T

    from benthos_spark.bloblang import map_text

    schema = T.StructType([
        T.StructField("batch_id", T.LongType()),
        T.StructField("part_index", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("_error", T.StringType()),
    ])
    rows_in = [(0, i, p["content"], dict(p["meta"]), None)
               for i, p in enumerate(case["input"])]
    df = spark.createDataFrame(rows_in, schema)
    tag = f"{case['file']}:{case['line']}"
    try:
        out = map_text(df, case["mapping"])
        collected = out.collect()
        if "part_index" in out.columns:
            rows = {r["part_index"]: r.asDict(recursive=True)
                    for r in collected}
        else:  # single-part shapes may prune the bookkeeping columns
            rows = {i: r.asDict(recursive=True)
                    for i, r in enumerate(collected)}
    except Exception as e:  # noqa: BLE001
        assert case.get("err"), \
            f"{tag}: mapping raised {type(e).__name__}: {e}"
        return
    row = rows.get(case["index"])
    if case.get("err"):
        assert row is not None and row.get("_error"), \
            f"{tag}: expected a flagged error, got {row!r}"
        # the failed part passes through unchanged (executor contract)
        assert row["content"] == case["input"][case["index"]]["content"]
        return
    want = case["output"]
    if want is None:
        assert row is None, f"{tag}: expected part deleted, got {row!r}"
        return
    assert row is not None, f"{tag}: part dropped, want {want!r}"
    assert not row.get("_error"), f"{tag}: unexpected error {row['_error']}"
    got_c, want_c = row["content"], want["content"]
    try:
        assert json.loads(got_c) == json.loads(want_c), \
            f"{tag}: content {got_c!r} != {want_c!r}"
    except ValueError:
        assert got_c == want_c, f"{tag}: content {got_c!r} != {want_c!r}"
    assert (row.get("meta") or {}) == want["meta"], \
        f"{tag}: meta {row.get('meta')!r} != {want['meta']!r}"
