"""Replay the extracted legacy-processor test vectors
(tools/extract_ref_processor_tests.py → tests/golden/
ref_processor_cases.json) through the engine's stream dispatch: each
case builds a message-doctrine frame, applies the processor via
`_apply_processor`, and compares the asserted part's content (or a
metadata key) with the reference's expectation.

Standalone:  python tools/run_ref_processor_tests.py [case-name ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VECTORS = os.path.join(REPO, "tests/golden/ref_processor_cases.json")


def _norm_json(s: str):
    """Compare as documents when both sides parse (key order and
    number formatting aside, Go json.Marshal == python sorted dumps);
    fall back to exact text."""
    try:
        return ("J", json.loads(s))
    except (TypeError, ValueError):
        return ("S", s)


def run_processor_case(spark, case: dict):
    """Returns (ok: bool, got, err: str|None)."""
    from pyspark.sql import types as T

    from benthos_spark.stream import _apply_processor

    schema = T.StructType([
        T.StructField("batch_id", T.LongType()),
        T.StructField("part_index", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("_error", T.StringType()),
    ])
    rows = [(0, i, c, {}, None) for i, c in enumerate(case["input"])]
    df = spark.createDataFrame(rows, schema)
    proc = case["processor"]
    spec = {k: v for k, v in case["config"].items()
            if k not in ("parts", "retain_parts")}
    if proc == "json":
        # the Go unit tables set conf.JSON.Value to raw JSON bytes,
        # bypassing the YAML json.Marshal step
        spec["_value_raw_json"] = True
    if proc == "merge_json":
        spec = {"doc": "this.content", "group": ["batch_id"],
                "order_by": "this.part_index"}
    try:
        out = _apply_processor(df, {proc: spec})
        collected = out.collect()
    except Exception as e:  # noqa: BLE001
        return False, None, f"{type(e).__name__}: {str(e)[:200]}"
    if not collected:
        return False, None, "no output rows"
    row0 = collected[0].asDict(recursive=True)
    if proc == "merge_json":
        got = row0.get("merged")
        return (_norm_json(got) == _norm_json(case["output"]),
                got, None)
    if case["assert"] == "meta":
        got = (row0.get("meta") or {}).get(case["meta_key"])
        return got == case["output"], got, None
    by_idx = {r["part_index"]: r.asDict(recursive=True)
              for r in collected} if "part_index" in out.columns \
        else {i: r.asDict(recursive=True)
              for i, r in enumerate(collected)}
    want = case["output"]
    if isinstance(want, list):  # multi-part expectation, in order
        got = [(by_idx.get(i) or {}).get("content")
               for i in range(len(want))]
        ok = all(_norm_json(g) == _norm_json(w)
                 for g, w in zip(got, want)) and len(got) == len(want)
        return ok, got, None
    got = (by_idx.get(0) or {}).get("content")
    return _norm_json(got) == _norm_json(want), got, None


def main() -> int:
    from concurrent.futures import ThreadPoolExecutor

    from benthos_spark.session import get_spark

    cases = json.load(open(VECTORS))
    only = set(sys.argv[1:])
    if only:
        cases = [c for c in cases if c["name"] in only]
    spark = get_spark("ref-processor-tests")
    spark.sparkContext.setLogLevel("OFF")

    def one(case):
        try:
            return case, *run_processor_case(spark, case)
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
            print(f"  conf: {json.dumps(case['config'])[:140]}")
            print(f"  in  : {case['input']}")
            print(f"  want: {case['output']!r}")
            print(f"  got : {err if err else got!r}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
