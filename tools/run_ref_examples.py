"""Run the extracted reference Bloblang example vectors through the
compiler and report per-case pass/fail.  Shared by the pytest gate
(tests/test_ref_example_vectors.py) and usable standalone:

    python tools/extract_ref_examples.py > tests/golden/ref_bloblang_examples.json
    python tools/run_ref_examples.py            # prints a report
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VECTORS = os.path.join(REPO, "tests/golden/ref_bloblang_examples.json")


def _norm(v):
    """Normalize for comparison: ints == floats, datetimes == RFC3339
    strings (the engine upgrades timestamps to native TimestampType;
    same instant, engine-native type), recursive."""
    import datetime as _dt
    if isinstance(v, bool):
        return v
    if type(v).__name__ == "VariantVal":
        return _norm(json.loads(v.toJson()))
    if isinstance(v, _dt.datetime):
        s = v.strftime("%Y-%m-%dT%H:%M:%S")
        if v.microsecond:
            s += (".%06d" % v.microsecond).rstrip("0")
        return s + "Z"
    if isinstance(v, str) and v.endswith("Z") and "T" in v:
        return v
    if isinstance(v, (int, float)):
        f = float(v)
        return int(f) if math.isfinite(f) and f == int(f) else f
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    return v


def _strip_nulls(v):
    """Drop null-valued object fields: a row's schema is the union of
    all assignments, so fields another case sets appear as null here;
    the reference document simply lacks them."""
    if isinstance(v, dict):
        return {k: _strip_nulls(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_strip_nulls(x) for x in v]
    return v


def run_case(spark, mapping: str, doc_json: str, want_json: str):
    """Returns (ok: bool, got, err: str|None)."""
    from pyspark.sql import functions as F

    from benthos_spark.bloblang import map_text

    import os
    import tempfile

    expect_error = want_json.startswith("Error(")
    want = None
    raw_want = None
    if not expect_error:
        try:
            want = json.loads(want_json)
        except ValueError:
            # raw text expectation: compare the whole-document root
            # (string output) verbatim
            raw_want = want_json
    env_file = None
    if "BENTHOS_TEST_BLOBLANG_FILE" in mapping:
        # the reference test harness materializes this fixture too
        fd, env_file = tempfile.mkstemp(suffix=".json")
        with os.fdopen(fd, "w") as fh:
            fh.write('{"foo":"bar"}')
        os.environ["BENTHOS_TEST_BLOBLANG_FILE"] = env_file
    from benthos_spark.bloblang.compiler import mapping_needs_dynamic
    from benthos_spark.bloblang.parser import parse_mapping

    dynamic = mapping_needs_dynamic(parse_mapping(mapping))
    is_doc = False
    try:
        json.loads(doc_json)
        is_doc = doc_json.strip().startswith("{")
    except ValueError:
        pass
    if not is_doc:
        # raw / array-root documents: a message-shaped single-part
        # frame; bare-this mappings route through the dynamic
        # interpreter, content() reads the raw payload
        from pyspark.sql import types as T
        schema = T.StructType([
            T.StructField("batch_id", T.LongType()),
            T.StructField("part_index", T.IntegerType()),
            T.StructField("content", T.StringType()),
            T.StructField("meta", T.MapType(T.StringType(),
                                            T.StringType())),
            T.StructField("_error", T.StringType()),
        ])
        df = spark.createDataFrame([(0, 0, doc_json, {}, None)],
                                   schema)
        try:
            out = map_text(df, mapping)
            rows = out.collect()
        except Exception as e:  # noqa: BLE001
            if expect_error:
                return True, None, None
            return False, None, f"{type(e).__name__}: {str(e)[:160]}"
        if not rows:
            if want_json.strip() == "<Message deleted>":
                return True, None, None
            return False, None, "row dropped"
        row = rows[0].asDict(recursive=True)
        if row.get("_error") and expect_error:
            return True, None, None
        got = {k: v for k, v in row.items()
               if k not in ("meta", "content", "batch_id",
                            "part_index", "_error") and v is not None}
        if "content" in out.columns and not got:
            try:
                got = json.loads(row["content"])
            except (TypeError, ValueError):
                got = row["content"]
        got = _strip_nulls(got if isinstance(got, dict) else got)
        if raw_want is not None:
            g = got.get("__root__") if isinstance(got, dict) else got
            return (isinstance(g, str)
                    and g.strip() == raw_want.strip()), got, None
        return _norm(got) == _norm(want), got, None
    df = spark.read.json(spark.sparkContext.parallelize([doc_json]))
    # message-shape columns for content()/meta()/root_meta sources
    # (and the dynamic-document fallback, which reads `content`)
    if ("content()" in mapping or dynamic) and "content" not in df.columns:
        df = df.withColumn("content", F.lit(doc_json))
    if ("meta(" in mapping or "root_meta" in mapping) \
            and "meta" not in df.columns:
        df = df.withColumn(
            "meta", F.create_map().cast("map<string,string>"))
    if "count(" in mapping and "batch_id" not in df.columns:
        # count() compiles to a pinned-order ordinal over batch keys
        df = df.withColumn("batch_id", F.lit(0)) \
               .withColumn("part_index", F.lit(0))
    # document mode: `this` is the parsed JSON document (blobl
    # semantics); row mode remains for frames without columns
    this = (F.struct(*[F.col(c) for c in df.columns
                       if c not in ("content", "meta")])
            if [c for c in df.columns if c not in ("content", "meta")]
            else None)
    try:
        out = map_text(df, mapping, this=this)
        rows = out.collect()
    except Exception as e:  # noqa: BLE001
        if expect_error:
            # the reference example's expected output IS an error —
            # our runtime surfaces it as a raised/failed assignment
            return True, None, None
        return False, None, f"{type(e).__name__}: {str(e)[:160]}"
    if expect_error:
        return False, rows[0].asDict(recursive=True) if rows else None, \
            "expected an error, mapping succeeded"
    if not rows:
        return False, None, "row dropped"
    if env_file:
        os.environ.pop("BENTHOS_TEST_BLOBLANG_FILE", None)
        os.unlink(env_file)
    if dynamic:
        # dynamic-document route: the result IS the rewritten content
        c = rows[0].asDict().get("content")
        if raw_want is not None:
            ok = isinstance(c, str) and c.strip() == raw_want.strip()
            return ok, c, None
        try:
            got = json.loads(c)
        except (TypeError, ValueError):
            return False, c, "content not JSON"
        return _norm(got) == _norm(want), got, None
    got = _strip_nulls(rows[0].asDict(recursive=True))
    for aux in ("meta", "content", "batch_id", "part_index"):
        got.pop(aux, None)
    if raw_want is not None:
        # whole-document raw-text comparison (single root column)
        if list(got) == ["__root__"]:
            g = got["__root__"]
            if isinstance(g, str) and g.strip() == raw_want.strip():
                return True, got, None
        return False, got, None
    if _norm(got) == _norm(want):
        return True, got, None
    if list(got) == ["__root__"] and _norm(got["__root__"]) == _norm(want):
        # whole-document non-object root (array/scalar): the single
        # `root` column IS the document body
        return True, got, None
    return False, got, None


def main() -> int:
    from benthos_spark.session import get_spark

    specs = json.load(open(VECTORS))
    only = set(sys.argv[1:])
    spark = get_spark("ref-examples")
    spark.sparkContext.setLogLevel("OFF")
    n_pass = n_fail = 0
    fails = []
    for spec in specs:
        if only and spec["name"] not in only:
            continue
        for i, (inp, out) in enumerate(spec["cases"]):
            try:
                json.loads(inp)
            except ValueError:
                continue  # non-JSON input (raw string examples)
            if not inp.strip().startswith("{"):
                continue  # scalar/array documents: no row shape
            ok, got, err = run_case(spark, spec["mapping"], inp, out)
            tag = f"{spec['name']}#{i} ({spec['file']}:{spec['line']})"
            if ok:
                n_pass += 1
            else:
                n_fail += 1
                fails.append((tag, spec["mapping"], inp, out, got, err))
    for tag, mapping, inp, out, got, err in fails:
        print(f"FAIL {tag}")
        print(f"  map : {mapping!r}")
        print(f"  in  : {inp}")
        print(f"  want: {out}")
        print(f"  got : {err if err else json.dumps(got, sort_keys=True, default=str)}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
