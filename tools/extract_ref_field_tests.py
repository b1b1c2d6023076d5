"""Extract the reference's interpolated-field test tables
(internal/bloblang/parser/field_parser_test.go TestFieldExpressions +
TestFieldStaticExpressionOptimization, and
field_deprecated_parser_test.go TestFieldDeprecatedFunctionExpressions)
into runnable vectors:

  {name, file, line, input, output, messages, index,
   escaped?: true, legacy?: true}

Usage: python tools/extract_ref_field_tests.py \
           > tests/golden/ref_field_cases.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.extract_ref_method_tests import (  # noqa: E402
    P, _block_end, _parse_messages, _strip_comments)

PDIR = "/root/reference/internal/bloblang/parser/"


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
        blk = blk.replace("types.FailFlagKey", '"__fail_flag__"')
        i = blk_end
        case = {"name": name, "file": path.rsplit("/", 1)[-1],
                "line": line0 + body[:m.start()].count("\n") + 1}
        try:
            for fld in ("input", "output"):
                mm = re.search(rf"\b{fld}:\s*", blk)
                if mm:
                    p = P(blk)
                    p.i = mm.end()
                    case[fld] = p.go_string()
            for flag in ("escaped", "legacy"):
                if re.search(rf"\b{flag}:\s*true", blk):
                    case[flag] = True
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
        if "output" not in case or "input" not in case:
            continue
        out.append(case)
    return out


def extract_static(path: str) -> list[dict]:
    """TestFieldStaticExpressionOptimization: map[string]string —
    template → resolved static text."""
    src = _strip_comments(open(path).read())
    fn_name = "TestFieldStaticExpressionOptimization"
    if f"func {fn_name}(" not in src:
        return []
    fn = src[src.index(f"func {fn_name}("):]
    table = fn[fn.index("tests := map[string]string{"):]
    start = table.index("{", table.index("map[string]string")) + 1
    # body runs to the matching closing brace of the literal
    end = _block_end(table, start - 1)
    body = table[start:end - 1]
    out = []
    p = P(body)
    while True:
        p.ws()
        if p.i >= len(body):
            break
        k = p.go_string()
        p.eat(":")
        v = p.go_string()
        out.append({"name": f"static: {k[:40]}",
                    "file": path.rsplit("/", 1)[-1], "line": 0,
                    "input": k, "output": v, "messages": [],
                    "index": 0, "static": True})
    return out


def main() -> int:
    vectors = []
    vectors += extract_static(PDIR + "field_parser_test.go")
    vectors += extract_table(PDIR + "field_parser_test.go",
                             "TestFieldExpressions")
    vectors += extract_table(
        PDIR + "field_deprecated_parser_test.go",
        "TestFieldDeprecatedFunctionExpressions")
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
