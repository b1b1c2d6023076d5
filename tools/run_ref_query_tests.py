"""Replay the textual query-parser vectors (TestMethodParser /
TestFunctionQueries / TestArithmeticParser / TestExpressionsParser /
TestLiteralParser — tools/extract_ref_query_parser_tests.py) through
the engine's OWN Bloblang parser: each case's `input` IS Bloblang
source, evaluated over a real message batch (one row per part, pinned
batch_id/part_index), so cross-part reads (.from / .from_all) exercise
the window compilation and everything else the columnar-or-dynamic
routing.

The reference asserts the serialized string form of the part at
`index` (query.ExecToString); err-text cases are excluded at
extraction.

Standalone:  python tools/run_ref_query_tests.py [case-name ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VECTORS = os.path.join(REPO, "tests/golden/ref_query_parser_cases.json")


def _serialize(v) -> str:
    """Engine value → the reference's ExecToString form: raw strings,
    JSON otherwise (Go marshal sorts object keys; int-valued floats
    print as ints)."""
    import math

    def norm(x):
        if isinstance(x, bool):
            return x
        if type(x).__name__ == "VariantVal":
            return norm(json.loads(x.toJson()))
        if isinstance(x, (bytes, bytearray)):
            return x.decode("utf-8", "replace")
        if isinstance(x, float):
            return int(x) if math.isfinite(x) and x == int(x) else x
        if isinstance(x, list):
            return [norm(i) for i in x]
        if isinstance(x, dict):
            return {k: norm(i) for k, i in x.items()}
        return x

    v = norm(v)
    if isinstance(v, str):
        return v
    return json.dumps(v, separators=(",", ":"), sort_keys=True)


def _docs_static(docs) -> bool:
    """True when every path has ONE value type across all docs and no
    array mixes element types — i.e. schema inference is faithful."""
    types_by_path: dict = {}

    def walk(v, path):
        if isinstance(v, dict):
            for k, x in v.items():
                walk(x, path + (k,))
            return "object"
        if isinstance(v, list):
            ets = {walk(x, path + ("[]",)) for x in v}
            ets.discard("null")
            if len(ets) > 1:
                types_by_path[path + ("[]",)] = {"mixed"}
            return "array"
        t = ("null" if v is None else "bool" if isinstance(v, bool)
             else "number" if isinstance(v, (int, float))
             else "string")
        if t != "null":
            types_by_path.setdefault(path, set()).add(t)
        return t

    for d in docs:
        walk(d, ())
    return all(len(ts) == 1 and "mixed" not in ts
               for ts in types_by_path.values())


def run_query_case(spark, case: dict):
    """Returns (ok: bool, got, err: str|None)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from benthos_spark.bloblang import map_text

    msgs = case.get("messages") or [{"content": "", "meta": {}}]
    idx = case.get("index", 0)
    if "value" in case:
        # explicit `this` context value: run as a single-part document
        msgs = [{"content": json.dumps(case["value"]), "meta": {}}]
        idx = 0
    rows = []
    for i, m in enumerate(msgs):
        meta = {str(k): str(v) for k, v in (m.get("meta") or {}).items()}
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
    contents = [r[2] for r in rows]
    jsonable = [c for c in contents if c.strip().startswith("{")]
    if "value" not in case and jsonable:
        try:
            docs = [json.loads(c) for c in jsonable]
            # heterogeneous leaf types (per path, or mixed-type
            # arrays) are the dynamic interpreter's territory —
            # schema inference would coerce them (e.g. [1,"nah"] →
            # array<string>), changing the semantics under test.
            # Non-JSON parts ride along: from_json yields null for
            # them (the reference's recoverable parse error).
            if _docs_static(docs):
                doc_schema = spark.read.json(
                    spark.sparkContext.parallelize(jsonable)).schema
                if doc_schema.fields:
                    this = F.from_json(F.col("content"), doc_schema)
        except ValueError:
            pass
    # newline before the closing paren so a trailing `# comment` in
    # the query can't swallow it
    mapping = f"root.res = ({case['input']}\n)"
    # ExecToString renders a (non-recoverable) evaluation error as ""
    # (query/package.go:156) — an empty `output` accepts an error
    expect_err = ("err" in case and "output" not in case
                  and "output_json" not in case) \
        or (case.get("output") == "" and "output_json" not in case)
    try:
        out = map_text(df, mapping, this=this,
                       keep=("part_index", "_error"))
        collected = {r["part_index"]: r.asDict(recursive=True)
                     for r in out.collect()}
    except Exception as e:  # noqa: BLE001
        if expect_err:
            return True, None, None
        return False, None, f"{type(e).__name__}: {str(e)[:200]}"
    row = collected.get(idx)
    if row is None:
        return False, None, f"part {idx} missing from output"
    preflagged = any(m.get("meta", {}).get("__fail_flag__")
                     for m in case.get("messages", []))
    if row.get("_error") and not preflagged:
        if expect_err:
            return True, None, None
        return False, None, f"_error: {row['_error'][:200]}"
    got = row.get("res")
    if "res" not in row:
        try:
            got = json.loads(row["content"]).get("res")
        except (TypeError, ValueError, AttributeError):
            return False, row.get("content"), "content not JSON"
    if "output_json" in case:
        want = _serialize(case["output_json"])
    else:
        want = case["output"]
    got_s = _serialize(got)
    return got_s == want, got_s, None


def main() -> int:
    from concurrent.futures import ThreadPoolExecutor

    from benthos_spark.session import get_spark

    cases = json.load(open(VECTORS))
    only = set(sys.argv[1:])
    if only:
        cases = [c for c in cases if c["name"] in only]
    spark = get_spark("ref-query-tests")
    spark.sparkContext.setLogLevel("OFF")

    def one(case):
        try:
            return case, *run_query_case(spark, case)
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
            print(f"  query: {case['input'][:160]}")
            print(f"  want : {case.get('output', case.get('output_json'))}")
            print(f"  got  : {err if err else got}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
