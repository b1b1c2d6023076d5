"""Replay the extracted reference query-test vectors (TestMethods /
TestFunctions tables — tools/extract_ref_method_tests.py) through the
engine's Bloblang parser/compiler.

Each vector is an expression evaluated against an optional message
batch; the reference asserts the resulting value (assert.Equal) or
that evaluation errors.  Error-MESSAGE parity is out of scope — an
err-case passes when the engine raises for the same input.

Shared by tests/test_ref_method_vectors.py and standalone:

    python tools/run_ref_method_tests.py [case-name ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VECTORS = os.path.join(REPO, "tests/golden/ref_method_cases.json")


def _lit(v) -> str:
    if isinstance(v, dict) and set(v) == {"__bytes__"}:
        return json.dumps(v["__bytes__"]) + ".bytes()"
    return json.dumps(v)


def build_mapping(case: dict) -> str:
    expr = case["expr"]
    if "value" in case:
        # the Go case evaluates with an explicit `this` context value;
        # substitute it as a literal (string vs bytes both covered)
        assert expr.startswith("this."), expr
        expr = _lit(case["value"]) + expr[len("this"):]
    lines = [f"let {json.dumps(k)} = {_lit(v)}"
             for k, v in (case.get("vars") or {}).items()]
    lines.append(f"root.res = {expr}")
    return "\n".join(lines)


def run_method_case(spark, case: dict):
    """Returns (ok: bool, got, err: str|None)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from benthos_spark.bloblang import map_text
    from tools.run_ref_examples import _norm

    mapping = build_mapping(case)
    msgs = case.get("messages") or [{"content": "{}", "meta": {}}]
    idx = case.get("index", 0)
    msg = msgs[idx] if idx < len(msgs) else msgs[0]
    schema = T.StructType([
        T.StructField("batch_id", T.LongType()),
        T.StructField("part_index", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("_error", T.StringType()),
    ])
    df = spark.createDataFrame(
        [(0, idx, msg.get("content", ""),
          {str(k): str(v) for k, v in (msg.get("meta") or {}).items()},
          None)],
        schema)
    expect_err = "err" in case and "output" not in case
    try:
        out = map_text(df, mapping)
        rows = out.collect()
    except Exception as e:  # noqa: BLE001
        if expect_err:
            return True, None, None
        return False, None, f"{type(e).__name__}: {str(e)[:200]}"
    if expect_err:
        row = rows[0].asDict(recursive=True) if rows else {}
        if row.get("_error"):
            return True, None, None
        return False, row.get("res"), "expected an error, got a value"
    if not rows:
        return False, None, "row dropped"
    row = rows[0].asDict(recursive=True)
    if row.get("_error"):
        return False, None, f"_error: {row['_error'][:200]}"
    got = row.get("res")
    if "res" not in row:
        # dynamic-document route: the mapping rewrote `content`
        try:
            got = json.loads(row["content"]).get("res")
        except (TypeError, ValueError):
            return False, row.get("content"), "content not JSON"
    if type(got).__name__ == "VariantVal":
        got = json.loads(got.toJson())
    want = _debytes(case.get("output"))
    got = _debytes(got)
    return _norm(got) == _norm(want), got, None


def _debytes(v):
    """Go []byte values compare equal to their string form: the engine
    is string-doctrine (binary only at the edges)."""
    if isinstance(v, (bytes, bytearray)):
        return v.decode("utf-8", "replace")
    if isinstance(v, dict):
        if set(v) == {"__bytes__"}:
            return v["__bytes__"]
        return {k: _debytes(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_debytes(x) for x in v]
    return v


def main() -> int:
    from benthos_spark.session import get_spark

    from concurrent.futures import ThreadPoolExecutor

    cases = json.load(open(VECTORS))
    only = set(sys.argv[1:])
    if only:
        cases = [c for c in cases if c["name"] in only]
    spark = get_spark("ref-method-tests")
    spark.sparkContext.setLogLevel("OFF")

    def one(case):
        try:
            return case, *run_method_case(spark, case)
        except Exception as e:  # noqa: BLE001
            return case, False, None, f"runner: {type(e).__name__}: {e}"

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(one, cases))
    n_pass = n_fail = 0
    for case, ok, got, err in results:
        if ok:
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {case['name']} ({case['file']}:{case['line']})")
            print(f"  expr: {case['expr'][:160]}")
            print(f"  want: {json.dumps(case.get('output'), default=str)[:160]}"
                  f"{' (err: ' + case['err'] + ')' if 'err' in case else ''}")
            print(f"  got : {err if err else json.dumps(got, default=str)[:200]}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
