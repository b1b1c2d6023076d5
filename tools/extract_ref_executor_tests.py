"""Extract the reference's mapping-executor test table
(internal/bloblang/mapping/executor_test.go TestAssignments) into the
same vector shape as the mapping-parser gate: each Go-constructed
Executor (NewStatement(assignment, query) list) is rendered back to
Bloblang mapping TEXT, so the cases replay through this engine's own
parser + compiler:

  {name, line, mapping, index, input: [{content, meta}],
   output: {content, meta} | null  (null = part deleted),
   err: true?}

Array-append assignment paths ("-" segments — gabs pointer syntax with
no Bloblang text form) are flagged `unsupported` with the reason.

Usage: python tools/extract_ref_executor_tests.py \
           > tests/golden/ref_executor_cases.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.extract_ref_method_tests import (  # noqa: E402
    P, _block_end, _strip_comments)

SRC = "/root/reference/internal/bloblang/mapping/executor_test.go"


def _render_query(p: P) -> str:
    """Render one query-constructor argument to Bloblang source."""
    p.ws()
    t, i = p.t, p.i
    if t.startswith("NewFieldFunction(", i):
        p.i = i + len("NewFieldFunction(")
        path = p.go_string()
        p.eat(")")
        return "this" if not path else f"this.{path}"
    if t.startswith("NewVarFunction(", i):
        p.i = i + len("NewVarFunction(")
        name = p.go_string()
        p.eat(")")
        return f"var({json.dumps(name)})"
    if t.startswith("NewLiteralFunction(", i):
        p.i = i + len("NewLiteralFunction(")
        p.go_string()  # label
        p.ws()
        if p.t.startswith("Delete(nil)", p.i):
            p.i += len("Delete(nil)")
            p.eat(")")
            return "deleted()"
        if p.t.startswith("Nothing(nil)", p.i):
            p.i += len("Nothing(nil)")
            p.eat(")")
            return "nothing()"
        v = p.go_value()
        p.eat(")")
        return json.dumps(v)
    if t.startswith("function(", i) or t.startswith("initFunc(", i):
        p.i = t.index("(", i) + 1
        name = p.go_string()
        args = []
        while not p.peek(")"):
            p.ws()
            args.append(json.dumps(p.go_value()))
        p.eat(")")
        return f"{name}({', '.join(args)})"
    raise ValueError(f"query ctor at {t[i:i+60]!r}")


def _render_statement(p: P) -> tuple[str, bool]:
    """NewStatement(nil, ASSIGNMENT, QUERY) → (bloblang line,
    supported)."""
    p.eat("NewStatement(")
    p.ws()
    if p.t.startswith("nil", p.i):
        p.i += 3
    else:
        # a []rune line marker — skip to the next top-level comma
        depth = 0
        while p.i < len(p.t):
            c = p.t[p.i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 0:
                break
            p.i += 1
    p.ws()
    t, i = p.t, p.i
    supported = True
    if t.startswith("NewJSONAssignment(", i):
        p.i = i + len("NewJSONAssignment(")
        segs = []
        while not p.peek(")"):
            segs.append(p.go_string())
        p.eat(")")
        if any(s == "-" for s in segs):
            supported = False  # gabs array-append pointer — no
            #                    Bloblang text form
        tgt = "root" + "".join(
            f".{s}" if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", s)
            else f".{json.dumps(s)}" for s in segs)
    elif t.startswith("NewMetaAssignment(", i):
        p.i = i + len("NewMetaAssignment(")
        p.ws()
        if p.t.startswith("nil", p.i):
            p.i += 3
            tgt = "meta"
        else:
            p.eat("metaKey(")
            k = p.go_string()
            p.eat(")")
            tgt = f"meta {json.dumps(k)}"
        p.eat(")")
    elif t.startswith("NewVarAssignment(", i):
        p.i = i + len("NewVarAssignment(")
        name = p.go_string()
        p.eat(")")
        tgt = f"let {name}"
    else:
        raise ValueError(f"assignment at {t[i:i+50]!r}")
    q = _render_query(p)
    p.eat(")")
    return f"{tgt} = {q}", supported


def _parse_parts(p: P) -> list[dict]:
    """[]part{{Content: …, Meta: …}, …} starting at '{' of the slice
    literal."""
    out = []
    p.eat("{")
    while not p.peek("}"):
        p.eat("{")
        part = {"content": "", "meta": {}}
        while not p.peek("}"):
            if p.peek("Content:"):
                p.eat("Content:")
                part["content"] = p.go_string()
            elif p.peek("Meta:"):
                p.eat("Meta:")
                part["meta"] = p.go_value()
            else:
                raise ValueError(f"part field at {p.t[p.i:p.i+40]!r}")
        p.eat("}")
        out.append(part)
    p.eat("}")
    return out


def extract() -> list[dict]:
    src = _strip_comments(open(SRC).read())
    fn = src[src.index("func TestAssignments("):]
    table = fn[fn.index("tests := map[string]struct {"):]
    start = table.index("}{") + 1
    end = _block_end(table, start)
    body = table[start + 1:end - 1]
    line0 = (src[:src.index("func TestAssignments(")].count("\n")
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
        blk = blk.replace("query.", "")
        i = blk_end
        case = {"name": name, "file": "executor_test.go",
                "line": line0 + body[:m.start()].count("\n") + 1}
        try:
            me = re.search(r"NewExecutor\(", blk)
            p = P(blk)
            p.i = me.end()
            p.go_string()   # annotation ""
            p.eat("nil")
            p.eat("nil")
            lines = []
            supported = True
            while True:
                p.ws()
                if p.t.startswith("NewStatement(", p.i):
                    ln, ok = _render_statement(p)
                    supported = supported and ok
                    lines.append(ln)
                else:
                    break
            case["mapping"] = "\n".join(lines)
            if not supported:
                case["unsupported"] = ("gabs '-' array-append "
                                       "assignment path")
            mi = re.search(r"\bindex:\s*(\d+)", blk)
            case["index"] = int(mi.group(1)) if mi else 0
            mp = re.search(r"input:\s*\[\]part", blk)
            p2 = P(blk)
            p2.i = blk.index("{", mp.end())
            case["input"] = _parse_parts(p2)
            if re.search(r"\berr:\s*errors\.New", blk):
                case["err"] = True
            mo = re.search(r"output:\s*", blk)
            if mo is None:
                case["output"] = None if "err" in case else None
            else:
                p3 = P(blk)
                p3.i = mo.end()
                p3.ws()
                if p3.t.startswith("nil", p3.i):
                    case["output"] = None   # part deleted
                elif p3.t.startswith("&part{", p3.i):
                    q = P(blk)
                    q.i = p3.i + len("&part")
                    q.eat("{")
                    part = {"content": "", "meta": {}}
                    while not q.peek("}"):
                        if q.peek("Content:"):
                            q.eat("Content:")
                            part["content"] = q.go_string()
                        elif q.peek("Meta:"):
                            q.eat("Meta:")
                            part["meta"] = q.go_value()
                        else:
                            raise ValueError("part field")
                    case["output"] = part
        except Exception as e:  # noqa: BLE001
            case["extract_error"] = f"{type(e).__name__}: {e}"
        out.append(case)
    return out


def main() -> int:
    vectors = extract()
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
