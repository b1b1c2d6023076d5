"""Replay the interpolated-field vectors (field_parser_test.go +
field_deprecated_parser_test.go — tools/extract_ref_field_tests.py)
through the engine's field compiler (bloblang/field.interpolate): each
case's `input` is a `${!…}` template resolved against a message batch,
asserting the reference's Expression.String/StringLegacy/BytesEscaped
output for the part at `index`.

Standalone:  python tools/run_ref_field_tests.py [case-name ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VECTORS = os.path.join(REPO, "tests/golden/ref_field_cases.json")


def run_field_case(spark, case: dict):
    """Returns (ok, got, err)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from benthos_spark.bloblang.field import interpolate

    msgs = list(case.get("messages") or [{"content": "", "meta": {}}])
    idx = case.get("index", 0)
    while idx >= len(msgs):
        # the reference evaluates at an out-of-range index as an
        # empty part (lib/message Get)
        msgs.append({"content": "", "meta": {}})
    rows = []
    for i, m in enumerate(msgs):
        meta = {str(k): str(v)
                for k, v in (m.get("meta") or {}).items()}
        errflag = meta.pop("__fail_flag__", None)
        rows.append((0, i, m.get("content", ""), meta, errflag))
    schema = T.StructType([
        T.StructField("batch_id", T.LongType()),
        T.StructField("part_index", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("_error", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    this = None
    jsonable = [r[2] for r in rows if r[2].strip().startswith("{")]
    if jsonable:
        try:
            for c in jsonable:
                json.loads(c)
            doc_schema = spark.read.json(
                spark.sparkContext.parallelize(jsonable)).schema
            if doc_schema.fields:
                this = F.from_json(F.col("content"), doc_schema)
        except ValueError:
            pass
    try:
        col = interpolate(case["input"], this=this, df=df,
                          legacy=bool(case.get("legacy")),
                          escaped=bool(case.get("escaped")))
        out = df.select(F.col("part_index"), col.alias("res"))
        collected = {r["part_index"]: r["res"] for r in out.collect()}
    except Exception as e:  # noqa: BLE001
        return False, None, f"{type(e).__name__}: {str(e)[:200]}"
    got = collected.get(idx)
    want = case["output"]
    return got == want, got, None


def main() -> int:
    from concurrent.futures import ThreadPoolExecutor

    from benthos_spark.session import get_spark

    cases = json.load(open(VECTORS))
    only = set(sys.argv[1:])
    if only:
        cases = [c for c in cases if c["name"] in only]
    spark = get_spark("ref-field-tests")
    spark.sparkContext.setLogLevel("OFF")

    def one(case):
        try:
            return case, *run_field_case(spark, case)
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
            print(f"  tmpl: {case['input'][:120]!r}")
            print(f"  want: {case['output']!r}")
            print(f"  got : {err if err else got!r}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
