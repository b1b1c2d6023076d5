"""Extract the reference's TEXTUAL query-parser test tables
(internal/bloblang/parser/query_*_parser_test.go) into runnable
vectors.  Unlike the Go-AST tables (extract_ref_method_tests.py),
these cases are already Bloblang source strings:

    {input: "json(\"foo\").from_all()", output: "[\"a\",null]",
     messages: [...], index: 0}

so they exercise the engine's OWN parser end-to-end, including batch
semantics (.from / .from_all over multi-part batches).

TestLiteralParser is mapping→Go-literal shaped; its `result` is
rendered to JSON in the `output_json` field.

Usage: python tools/extract_ref_query_parser_tests.py \
           > tests/golden/ref_query_parser_cases.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.extract_ref_method_tests import (  # noqa: E402
    P, _block_end, _parse_messages, _parse_value_iife, _go_stmt_end,
    _strip_comments)

PDIR = "/root/reference/internal/bloblang/parser/"
TABLES = [
    (PDIR + "query_method_parser_test.go", "TestMethodParser"),
    (PDIR + "query_function_parser_test.go", "TestFunctionQueries"),
    (PDIR + "query_arithmetic_parser_test.go", "TestArithmeticParser"),
    (PDIR + "query_expression_parser_test.go", "TestExpressionsParser"),
    (PDIR + "query_literal_parser_test.go", "TestLiteralParser"),
]


def extract_table(path: str, test_fn: str) -> list[dict]:
    src = _strip_comments(open(path).read())
    if f"func {test_fn}(" not in src:
        return []
    fn = src[src.index(f"func {test_fn}("):]
    table = fn[fn.index("tests := map[string]struct {"):]
    start = table.index("}{") + 1
    end = _block_end(table, start)
    body = table[start + 1:end - 1]
    line0 = (src[:src.index(f"func {test_fn}(")].count("\n")
             + fn[:fn.index("tests := map")].count("\n")
             + table[:start].count("\n") + 1)

    out = []
    i = 0
    pat = re.compile(r'"((?:[^"\\]|\\.)*)":\s*\{')
    while True:
        m = pat.search(body, i)
        if not m:
            break
        name = m.group(1)
        blk_start = m.end() - 1
        blk_end = _block_end(body, blk_start)
        blk = body[blk_start + 1:blk_end - 1]
        # the error-flag metadata constant → a sentinel key the runner
        # maps onto the engine's _error column
        blk = blk.replace("types.FailFlagKey", '"__fail_flag__"')
        i = blk_end
        case = {"name": name, "file": path.rsplit("/", 1)[-1],
                "line": line0 + body[:m.start()].count("\n") + 1}
        try:
            for fld in ("input", "output", "mapping", "err",
                        "parseErr"):
                mm = re.search(rf"\b{fld}:\s*", blk)
                if mm:
                    p = P(blk)
                    p.i = mm.end()
                    case[fld] = p.go_string()
            mm = re.search(r"\bresult:\s*", blk)
            if mm:
                p = P(blk)
                p.i = mm.end()
                case["output_json"] = p.go_value()
            if re.search(r"\bdeprecated:\s*true", blk):
                case["deprecated"] = True
            mv = re.search(r"\bvalue:\s*", blk)
            if mv:
                seg = blk[mv.end():]
                case["value"] = _parse_value_iife(
                    seg[:_go_stmt_end(seg)])
            mi = re.search(r"\bindex:\s*(\d+)", blk)
            case["index"] = int(mi.group(1)) if mi else 0
            mmsg = re.search(r"messages:\s*\[\]easyMsg", blk)
            if mmsg:
                seg = blk[blk.index("{", mmsg.end()):]
                seg = seg[:_block_end(seg, 0)]
                case["messages"] = _parse_messages(seg)
            else:
                case["messages"] = []
        except Exception as e:  # noqa: BLE001
            case["extract_error"] = f"{type(e).__name__}: {e}"
        if "mapping" in case and "input" not in case:
            case["input"] = case.pop("mapping")
        # error-only cases test Go parse-error TEXT — out of scope
        if "output" not in case and "output_json" not in case:
            continue
        out.append(case)
    return out


def main() -> int:
    vectors = []
    for path, fn in TABLES:
        vectors += extract_table(path, fn)
    bad = [v for v in vectors if "extract_error" in v]
    json.dump(vectors, sys.stdout, indent=1)
    sys.stdout.write("\n")
    print(f"{len(vectors)} vectors, {len(bad)} extract errors",
          file=sys.stderr)
    for v in bad:
        print(f"  {v['name']}: {v['extract_error']}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
