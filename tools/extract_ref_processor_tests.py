"""Extract the reference's table-driven legacy-processor tests
(lib/processor/{json,text,metadata,merge_json}_test.go) into runnable
vectors.  Each Go test func follows one shape:

    type jTest struct { name, <fields>... string }
    tests := []jTest{ {...}, ... }
    for _, test := range tests {
        conf := NewConfig()
        conf.<Section>.<Field> = <test.field | literal>
        ...
        inMsg := message.New([][]byte{[]byte(test.input), ...})
        msgs, _ := proc.ProcessMessage(inMsg)
        assert content-of-part-0 == test.output   (or Metadata().Get)
    }

Emitted vector shape:

  {name, file, line, processor, config: {...}, input: [part, ...],
   output, assert: "content" | "meta", meta_key?: str}

Funcs that do not fit (imperative assertions, error-path tables) are
skipped and counted on stderr.

Usage: python tools/extract_ref_processor_tests.py \
           > tests/golden/ref_processor_cases.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.extract_ref_method_tests import P, _strip_comments  # noqa: E402

PDIR = "/root/reference/lib/processor/"
SOURCES = ["json_test.go", "text_test.go", "metadata_test.go",
           "merge_json_test.go", "jq_test.go", "jmespath_test.go",
           "xml_test.go", "number_test.go", "parse_log_test.go",
           "grok_test.go"]

_SECTION_TO_PROC = {"JSON": "json", "Text": "text",
                    "Metadata": "metadata", "MergeJSON": "merge_json",
                    "JQ": "jq", "JMESPath": "jmespath", "XML": "xml",
                    "Number": "number", "ParseLog": "parse_log",
                    "Grok": "grok"}

_SNAKE = re.compile(r"(?<=[a-z0-9])(?=[A-Z])")


def _snake(name: str) -> str:
    return _SNAKE.sub("_", name).lower()


def _parse_table(body: str, start: int):
    """Parse `[]T{ {...}, ... }` starting at the '{' of the slice.
    Entries whose values aren't plain Go literals (fmt.Sprintf etc.)
    are skipped individually."""
    from tools.extract_ref_method_tests import _block_end

    p = P(body)
    p.i = start
    p.eat("{")
    rows, skipped = [], 0
    while not p.peek("}"):
        p.ws()
        entry_start = p.i
        try:
            p.eat("{")
            row = {}
            while not p.peek("}"):
                p.ws()
                m = re.match(r"(\w+)\s*:", p.t[p.i:])
                if not m:
                    raise ValueError(f"field at {p.t[p.i:p.i+40]!r}")
                p.i += m.end()
                row[m.group(1)] = p.go_value()
            p.eat("}")
            rows.append((row, body[:p.i].count("\n")))
        except ValueError:
            p.i = _block_end(body, entry_start)
            skipped += 1
    p.eat("}")
    return rows, p.i, skipped


def _conf_value(raw: str):
    raw = raw.strip()
    m = re.fullmatch(r"(?:\[\]byte\()?test\.(\w+)\)?", raw)
    if m:
        return {"$field": m.group(1)}
    m = re.fullmatch(r"\[\]string\{test\.(\w+)\}", raw)
    if m:
        return {"$field_as_list": m.group(1)}
    if raw.startswith("[]int{"):
        inner = raw[len("[]int{"):raw.index("}")]
        return [int(x) for x in inner.split(",") if x.strip()]
    if raw.startswith(("[]string{", "map[string]string{",
                       "map[string]interface{}{")):
        try:
            return P(raw).go_value()
        except ValueError:
            return None
    if raw in ("true", "false"):
        return raw == "true"
    if raw.startswith(('"', "`")):
        return P(raw).go_string()
    try:
        return int(raw)
    except ValueError:
        return None  # unsupported expression


def extract_file(fname: str) -> tuple[list[dict], list[str]]:
    src = _strip_comments(open(PDIR + fname).read())
    out, skipped = [], []
    for m in re.finditer(r"func (Test\w+)\(t \*testing\.T\) \{", src):
        fn_name = m.group(1)
        end = src.index("\n}", m.end())
        body = src[m.end():end]
        line0 = src[:m.start()].count("\n") + 1
        tm = re.search(r"tests\s*:=\s*\[\]\w+\{", body)
        if not tm:
            skipped.append(f"{fn_name}: no test table")
            continue
        try:
            rows, tbl_end, n_skip = _parse_table(body, tm.end() - 1)
            if n_skip:
                skipped.append(f"{fn_name}: {n_skip} non-literal "
                               "entries")
        except ValueError as e:
            skipped.append(f"{fn_name}: table parse: {e}")
            continue
        loop = body[tbl_end:]
        confs = re.findall(r"conf\.(\w+)\.(\w+)\s*=\s*([^\n]+)", loop)
        if not confs:
            # default-config processors: section from New<Type>(conf
            nm = re.search(r"New(\w+)\(conf", loop)
            if nm and nm.group(1) in _SECTION_TO_PROC:
                confs = []
                section = nm.group(1)
            else:
                skipped.append(f"{fn_name}: no conf assignments")
                continue
        else:
            section = confs[0][0]
        proc = _SECTION_TO_PROC.get(section)
        if proc is None:
            skipped.append(f"{fn_name}: section {section}")
            continue
        config = {}
        bad = False
        for _, field, raw in confs:
            v = _conf_value(raw)
            if v is None:
                skipped.append(f"{fn_name}: conf value {raw!r}")
                bad = True
                break
            config[_snake(field)] = v
        if bad:
            continue
        im = re.search(
            r"message\.New\(\s*\[\]\[\]byte\{(.*?)\}\s*,?\s*\)",
            loop, re.S)
        parts = []
        if im:
            for pm in re.finditer(
                    r"\[\]byte\((test\.(\w+)|\"[^\"]*\"|`[^`]*`)\)",
                    im.group(1)):
                if pm.group(2):
                    parts.append({"$field": pm.group(2)})
                else:
                    parts.append(P(pm.group(1)).go_string())
        if not parts and rows and "input" in rows[0][0]:
            # loop builds the message from test.input (string or
            # []string of parts)
            parts = [{"$field_parts": "input"}]
        if not parts:
            skipped.append(f"{fn_name}: no input parts")
            continue
        meta_m = re.search(r"Metadata\(\)\.Get\(test\.(\w+)\)", loop)
        for row, rel_line in rows:
            if "output" not in row:
                skipped.append(f"{fn_name}/{row.get('name')}: no output")
                continue

            def resolve(v):
                if isinstance(v, dict) and "$field" in v:
                    return row.get(v["$field"], "")
                if isinstance(v, dict) and "$field_as_list" in v:
                    return [row.get(v["$field_as_list"], "")]
                return v

            inputs = []
            for p in parts:
                if isinstance(p, dict) and "$field_parts" in p:
                    v = row.get(p["$field_parts"], "")
                    inputs.extend(v if isinstance(v, list) else [v])
                else:
                    inputs.append(resolve(p))
            case = {
                "name": f"{fn_name} {row.get('name', '')}".strip(),
                "file": fname,
                "line": line0 + rel_line,
                "processor": proc,
                "config": {k: resolve(v) for k, v in config.items()},
                "input": inputs,
                "output": row["output"],
                "assert": "meta" if meta_m else "content",
            }
            if meta_m:
                case["meta_key"] = row.get(meta_m.group(1), "")
            out.append(case)
    return out, skipped


def main() -> int:
    vectors, all_skipped = [], []
    for fname in SOURCES:
        vs, sk = extract_file(fname)
        vectors.extend(vs)
        all_skipped.extend(f"{fname}:{s}" for s in sk)
    json.dump(vectors, sys.stdout, indent=1)
    sys.stdout.write("\n")
    print(f"{len(vectors)} vectors; skipped: {len(all_skipped)}",
          file=sys.stderr)
    for s in all_skipped:
        print(f"  {s}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
