"""v3 legacy content-doctrine processors: `json` and `text`.

Reference: lib/processor/json.go (point operations on the payload's
JSON document, interpolated value/path fields) and lib/processor/
text.go (string operations on the raw payload).  These predate
Bloblang; modern configs use mappings (the compiled fast path), but a
migrating v3 config still carries them, and their semantics are
per-document dynamic — one batch may hold conflicting JSON shapes, so
they run through the dynamic-document interpreter (bloblang/interp.py)
in the per-message kernel (`datamodel.map_messages`) rather than schema
inference.
"""

from __future__ import annotations

import json as _json

from pyspark.sql import DataFrame

from benthos_spark.datamodel import map_messages

_JSON_OPS = ("set", "flatten", "flatten_array", "fold_number_array",
             "fold_string_array", "select", "split", "copy", "move",
             "delete", "append", "clean", "explode")
_TEXT_OPS = ("set", "append", "prepend", "to_upper", "to_lower", "trim",
             "trim_space", "quote", "unquote", "replace", "replace_regexp",
             "strip_html", "find_regexp", "regexp_expand",
             "escape_url_query", "unescape_url_query")


def _check_operator(kind: str, op: str, known: tuple) -> None:
    """Unknown operators fail while the pipeline is built, not inside a
    Spark task."""
    if op not in known:
        from benthos_spark.stream import ConfigError
        raise ConfigError(f"{kind} processor operator {op!r} unknown: "
                          f"use {'|'.join(known)}")


def _content_stage(df: DataFrame, fn,
                   whole_batches: bool = False) -> DataFrame:
    """`map_messages` with fn(content, meta[, batch, part_index]) ->
    new content; an _OpError keeps the content and flags the part
    (IteratePartsWithSpan fail-flag protocol)."""
    def one(content, meta, error, **ctx):
        try:
            return [(fn(content, meta, **ctx), meta, None)]
        except _OpError as e:
            return [(content, meta, str(e))]

    return map_messages(df, one, whole_batches=whole_batches)


class _OpError(ValueError):
    """Operator failure → error-flag protocol (part passes through)."""


def _jdig(doc, path):
    """gabs Search: missing path → None."""
    cur = doc
    for seg in path:
        if isinstance(cur, dict):
            cur = cur.get(seg)
        elif isinstance(cur, list) and seg.lstrip("-").isdigit():
            i = int(seg)
            cur = cur[i] if -len(cur) <= i < len(cur) else None
        else:
            return None
        if cur is None:
            return None
    return cur


def _jhas(doc, path) -> bool:
    """True when the full path EXISTS (even holding null)."""
    cur = doc
    for seg in path:
        if isinstance(cur, dict) and seg in cur:
            cur = cur[seg]
        elif isinstance(cur, list) and seg.lstrip("-").isdigit() \
                and -len(cur) <= int(seg) < len(cur):
            cur = cur[int(seg)]
        else:
            return False
    return True


def _jset(doc, path, value):
    """gabs Set: auto-vivify intermediate objects; numeric segments
    index existing arrays."""
    if not path:
        return value
    cur = doc
    for i, seg in enumerate(path[:-1]):
        if isinstance(cur, list) and seg.lstrip("-").isdigit():
            cur = cur[int(seg)]
            continue
        if not isinstance(cur, dict):
            raise _OpError(f"failed to set path "
                           f"'{'.'.join(path)}': collision")
        nxt = cur.get(seg)
        if nxt is None and seg not in cur:
            nxt = {}
            cur[seg] = nxt   # auto-vivify MISSING segments only
        elif not isinstance(nxt, (dict, list)):
            # existing non-container value → gabs ErrPathCollision
            raise _OpError(f"failed to set path "
                           f"'{'.'.join(path)}': collision")
        cur = nxt
    last = path[-1]
    if isinstance(cur, list) and last.lstrip("-").isdigit():
        cur[int(last)] = value
    elif isinstance(cur, dict):
        cur[last] = value
    else:
        raise _OpError(f"failed to set path '{'.'.join(path)}'")
    return doc


def _jdel(doc, path):
    """gabs Delete: missing path is an error."""
    cur = doc
    for seg in path[:-1]:
        if isinstance(cur, dict) and seg in cur:
            cur = cur[seg]
        elif isinstance(cur, list) and seg.lstrip("-").isdigit() \
                and -len(cur) <= int(seg) < len(cur):
            cur = cur[int(seg)]
        else:
            raise _OpError(f"field not found: {'.'.join(path)}")
    last = path[-1]
    if isinstance(cur, dict) and last in cur:
        del cur[last]
    elif isinstance(cur, list) and last.lstrip("-").isdigit() \
            and -len(cur) <= int(last) < len(cur):
        del cur[int(last)]
    else:
        raise _OpError(f"field not found: {'.'.join(path)}")


def _go_nums(v):
    """json.Marshal number form: integral floats print as ints."""
    if isinstance(v, float) and v.is_integer() \
            and abs(v) < 1e15:
        return int(v)
    if isinstance(v, dict):
        return {k: _go_nums(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_go_nums(x) for x in v]
    return v


def _jdumps(doc):
    return _json.dumps(_go_nums(doc), separators=(",", ":"),
                       sort_keys=True, ensure_ascii=False)


class _RawOut(str):
    """Marker: operator produced raw bytes, not a JSON document."""


def json_stage(df: DataFrame, spec: dict) -> DataFrame:
    """`json` processor — faithful reimplementation of
    lib/processor/json.go: set / flatten / flatten_array /
    fold_number_array / fold_string_array / select / split / copy /
    move / delete / append / clean / explode over the payload
    document at `path`, with the interpolated `value` parsed as JSON
    where the operator consumes it.  Operator errors flag the part
    and pass the original through (IteratePartsWithSpan)."""
    import copy as _copy

    from benthos_spark.bloblang.interp import compile_template

    op = str(spec.get("operator", "set"))
    _check_operator("json", op, _JSON_OPS)
    raw_path = str(spec.get("path", ""))
    path = [] if raw_path in ("", ".") else raw_path.split(".")
    raw_value = spec.get("value")
    if raw_value is not None and not spec.get("_value_raw_json"):
        # rawJSONValue.UnmarshalYAML (json.go:65): the YAML value is
        # json.Marshal'd BEFORE interpolation — a YAML string becomes
        # a quoted JSON template with the `${!}` expressions inside
        # the quotes.  `_value_raw_json` bypasses this for callers
        # that supply raw JSON text (the Go unit-test vectors).
        raw_value = _json.dumps(raw_value, sort_keys=True,
                                separators=(",", ":"),
                                ensure_ascii=False)
    # BytesEscapedLegacy: interpolated results are string-escaped so
    # the rendered template stays a valid JSON document (json.go:701)
    render = (compile_template(raw_value, escape_json=True)
              if isinstance(raw_value, str) else None)

    dest_path: list[str] = []
    if op in ("move", "copy"):
        try:
            dest = _json.loads(raw_value) if raw_value else ""
        except ValueError as e:
            raise ValueError(
                f"json {op}: destination path from value: {e}") from e
        dest_path = [] if dest in ("", ".") else str(dest).split(".")
        if op == "copy" and (not path or not dest_path):
            raise ValueError("copy operator requires non-empty source "
                             "and destination paths")
        if op == "move" and not path and not dest_path:
            raise ValueError("an empty source and destination path is "
                             "not valid for the move operator")

    def value_json(doc, meta, content):
        if render is None:
            return None
        s = render(doc, meta, content)
        if s == "":
            return None
        try:
            return _json.loads(s)
        except ValueError as e:
            raise _OpError(f"failed to parse value: {e}") from e

    def apply_op(doc, meta, content):
        if op == "set":
            return _jset(doc, path, value_json(doc, meta, content))
        if op == "flatten":
            target = _jdig(doc, path) if path else doc
            flat = {}

            def walk(v, prefix):
                if isinstance(v, dict) and v:
                    for k, x in v.items():
                        walk(x, f"{prefix}.{k}" if prefix else str(k))
                elif isinstance(v, list) and v:
                    for i, x in enumerate(v):
                        walk(x, f"{prefix}.{i}" if prefix else str(i))
                else:
                    flat[prefix] = v
            if not isinstance(target, (dict, list)):
                raise _OpError("flatten: target is not an object or "
                               "array")
            walk(target, "")
            return _jset(doc, path, flat)
        if op == "flatten_array":
            target = _jdig(doc, path) if path else doc
            if not isinstance(target, list):
                raise _OpError(
                    f"non-array value found at path: "
                    f"{type(target).__name__}")
            if not target:
                return doc
            out = []
            for x in target:
                out.extend(x if isinstance(x, list) else [x])
            return _jset(doc, path, out)
        if op == "fold_number_array":
            target = _jdig(doc, path) if path else doc
            if not isinstance(target, list):
                raise _OpError(
                    f"non-array value found at path: "
                    f"{type(target).__name__}")
            acc = 0.0
            for x in target:
                if isinstance(x, bool) or not isinstance(x,
                                                         (int, float)):
                    raise _OpError(
                        "mismatched types found in array, expected "
                        f"number, found: {type(x).__name__}")
                acc += x
            return _jset(doc, path, acc)
        if op == "fold_string_array":
            target = _jdig(doc, path) if path else doc
            if not isinstance(target, list):
                raise _OpError(
                    f"non-array value found at path: "
                    f"{type(target).__name__}")
            delim = value_json(doc, meta, content)
            delim = delim if isinstance(delim, str) else ""
            parts = []
            for x in target:
                if not isinstance(x, str):
                    raise _OpError(
                        "mismatched types found in array, expected "
                        f"string, found: {type(x).__name__}")
                parts.append(x)
            return _jset(doc, path, delim.join(parts))
        if op == "select":
            target = _jdig(doc, path) if path else doc
            if isinstance(target, str):
                return _RawOut(target)
            return target
        if op == "split":
            delim = value_json(doc, meta, content)
            if not isinstance(delim, str) or not delim:
                raise _OpError("value field must be a non-empty "
                               "string")
            target = _jdig(doc, path) if path else doc
            if not isinstance(target, str):
                raise _OpError("path value must be a string")
            return _jset(doc, path, target.split(delim))
        if op in ("move", "copy"):
            if path:
                src = _jdig(doc, path)
            else:
                src, doc = doc, {}
            if src is None:
                raise _OpError(
                    f"item not found at path '{'.'.join(path)}'")
            if op == "move" and path:
                try:
                    _jdel(doc, path)
                except _OpError:
                    pass
            if not dest_path:  # move to root
                return src
            return _jset(doc, dest_path, src)
        if op == "delete":
            if not path:
                return _RawOut("")  # delete whole part → empty
            _jdel(doc, path)
            return doc
        if op == "append":
            value = value_json(doc, meta, content)
            arr = value if isinstance(value, list) else [value]
            tgt = _jdig(doc, path) if path else doc
            if tgt is not None:
                arr = (tgt + arr) if isinstance(tgt, list) \
                    else [tgt] + arr
            elif _jhas(doc, path):
                # existing null target prepends as an element
                # (json.go append `case nil`)
                arr = [None] + arr
            return _jset(doc, path, arr)
        if op == "clean":
            def clean_v(v):
                if isinstance(v, dict):
                    nv = {k: cx for k, x in v.items()
                          if (cx := clean_v(x)) is not None}
                    return nv if nv else None
                if isinstance(v, list):
                    na = [cx for x in v
                          if (cx := clean_v(x)) is not None]
                    return na if na else None
                if isinstance(v, str):
                    return v if v else None
                return v
            target = _jdig(doc, path) if path else doc
            val = clean_v(target)
            if val is None:
                if not path:
                    if isinstance(doc, list):
                        return []
                    if isinstance(doc, dict):
                        return {}
                    return None
                try:
                    _jdel(doc, path)
                except _OpError:
                    pass
                return doc
            return _jset(doc, path, val)
        if op == "explode":
            if not path:
                raise _OpError("explode operator requires a target "
                               "path")
            target = _jdig(doc, path)
            if isinstance(target, list):
                return [_jset(_copy.deepcopy(doc), path, e)
                        for e in target]
            if isinstance(target, dict):
                return {k: _jset(_copy.deepcopy(doc), path, e)
                        for k, e in target.items()}
            raise _OpError(
                "target value was not an array or a map, found: "
                f"{type(target).__name__}")

    def one(content, meta):
        try:
            doc = _json.loads(content) if content else None
        except ValueError as e:
            raise _OpError(f"failed to parse part into json: "
                           f"{e}") from e
        if content in (None, ""):
            raise _OpError("failed to parse part into json: "
                           "message is empty")
        out = apply_op(doc, meta, content)
        if isinstance(out, _RawOut):
            return str(out)
        return _jdumps(out)

    return _content_stage(df, one)


def unarchive_content_stage(df: DataFrame, fmt: str) -> DataFrame:
    """`unarchive` in its content-doctrine form (lib/processor/
    unarchive.go): one payload becomes N parts, renumbered 0..N-1."""
    if fmt not in ("lines", "json_array", "json_map"):
        raise ValueError(f"unarchive format {fmt!r}: content-doctrine "
                         "subset is lines|json_array|json_map")

    def part(v):
        return v if isinstance(v, str) else _json.dumps(
            v, separators=(",", ":"), sort_keys=True, ensure_ascii=False)

    def one(c, meta, error):
        if fmt == "lines":
            return [(ln, meta, None) for ln in (c or "").split("\n") if ln]
        try:
            doc = _json.loads(c)
        except (TypeError, ValueError):
            doc = None
        if fmt == "json_array" and isinstance(doc, list):
            return [(part(x), meta, None) for x in doc]
        if fmt == "json_map" and isinstance(doc, dict):
            return [(part(v), {**meta, "archive_key": k}, None)
                    for k, v in sorted(doc.items())]
        return [(c, meta, None)]

    return map_messages(df, one)


def number_stage(df: DataFrame, spec: dict) -> DataFrame:
    """`number` processor (lib/processor/number.go): add/subtract over
    numeric payloads with an interpolated operand.  Failed parses flag
    the part and pass the original through."""
    from benthos_spark.bloblang.interp import compile_template

    import re as _re

    op = str(spec.get("operator", "add"))
    if op not in ("add", "subtract"):
        raise ValueError(f"number operator {op!r}: add|subtract")
    raw = spec.get("value", 0)
    render = compile_template(str(raw)) if isinstance(raw, str) else None

    def _fmt(v: float) -> str:
        # strconv.FormatFloat(f, 'f', -1, 64): shortest round-trip
        return str(int(v)) if v.is_integer() else repr(v)

    def one(content, meta, batch=None, part_index=0):
        try:
            doc = _json.loads(content) if content else None
        except ValueError:
            doc = None
        if render is not None:
            rendered = render(doc, meta, content, batch=batch,
                              part_index=part_index)
            try:
                operand = float(rendered)
            except ValueError as e:
                raise _OpError(
                    f"failed to parse value into number: {e}") from e
        else:
            operand = float(raw)
        try:
            base = float(content)
        except (TypeError, ValueError) as e:
            raise _OpError(
                f"failed to parse content into number: {e}") from e
        return _fmt(base + operand if op == "add" else base - operand)

    return _content_stage(
        df, one, whole_batches=isinstance(raw, str) and bool(_re.search(
            r"batch_size|batch_index|\.from", raw))
        and "batch_id" in df.columns)


def parse_log_stage(df: DataFrame, spec: dict) -> DataFrame:
    """`parse_log` in its content form (lib/processor/parse_log.go):
    the payload line parses into the syslog document (codec json);
    unparseable lines flag the part and pass the original through."""
    from benthos_spark.operators.parsing import parse_syslog_doc

    fmt = str(spec.get("format", "syslog_rfc5424"))
    codec = str(spec.get("codec", "json"))
    if codec != "json":
        raise ValueError(f"parse_log codec {codec!r}: only json")

    def one(content, meta):
        doc = parse_syslog_doc(content or "", fmt)
        if doc is None:
            raise _OpError(f"failed to parse log as {fmt}")
        return _jdumps(doc)

    return _content_stage(df, one)


def grok_stage(df: DataFrame, spec: dict) -> DataFrame:
    """`grok` in its content form (lib/processor/grok.go): patterns
    tried in order, named captures become the payload document; no
    match flags the part (ErrNoMatch) and passes the original."""
    from benthos_spark.operators.parsing import grok_parse_doc

    # grok.go:88 `expressions` (array); deprecated singular/`patterns`
    # forms accepted for config portability.
    patterns = (spec.get("expressions") or spec.get("patterns")
                or [spec.get("expression") or spec["pattern"]])
    if isinstance(patterns, str):
        patterns = [patterns]
    patterns = [str(p) for p in patterns]
    defs = dict(spec.get("pattern_definitions") or {})
    remove_empty = bool(spec.get("remove_empty_values", True))

    def one(content, meta):
        doc = grok_parse_doc(content or "", patterns, defs,
                             remove_empty=remove_empty)
        if doc is None:
            raise _OpError("grok patterns did not match payload")
        return _jdumps(doc)

    return _content_stage(df, one)


def _go_expand(m, tmpl: str) -> str:
    """Go regexp.Expand template semantics: $1 / $name / ${name}
    substitute capture groups; undefined or unmatched groups expand to
    the empty string (regexp/regexp.go Expand)."""
    import re

    def sub(mm):
        g = mm.group(1)
        try:
            v = m.group(int(g)) if g.isdigit() else m.group(g)
        except (IndexError, KeyError, re.error):
            return ""
        return v if v is not None else ""

    return re.sub(r"\$\{?(\w+)\}?", sub, tmpl)


def metadata_stage(df: DataFrame, spec: dict) -> DataFrame:
    """`metadata` processor (lib/processor/metadata.go): set / delete /
    delete_all / delete_prefix over the part's metadata, with `key` and
    `value` interpolated per document."""
    from benthos_spark.bloblang.interp import compile_template

    op = str(spec.get("operator", "set"))
    _check_operator("metadata", op,
                    ("set", "delete", "delete_all", "delete_prefix"))
    render_key = compile_template(str(spec.get("key", "")))
    render_val = compile_template(str(spec.get("value", "")))
    if "meta" not in df.columns:
        raise ValueError("metadata processor needs a `meta` column "
                         "(message doctrine)")

    def one(content, meta, error):
        try:
            doc = _json.loads(content) if content else None
        except ValueError:
            doc = None
        key = render_key(doc, meta, content)
        if op == "set":
            meta[key] = render_val(doc, meta, content)
        elif op == "delete":
            meta.pop(key or render_val(doc, meta, content), None)
        elif op == "delete_all":
            meta = {}
        else:  # delete_prefix
            pfx = key or render_val(doc, meta, content)
            meta = {k: v for k, v in meta.items() if not k.startswith(pfx)}
        return [(content, meta, None)]

    return map_messages(df, one)


def text_stage(df: DataFrame, spec: dict) -> DataFrame:
    """`text` processor (lib/processor/text.go): string operator over
    the raw payload; `value` interpolates per document."""
    from benthos_spark.bloblang.interp import compile_template

    op = str(spec.get("operator", "set"))
    _check_operator("text", op, _TEXT_OPS)
    raw_value = str(spec.get("value", ""))
    render = compile_template(raw_value)

    def one(content, meta):
        def val(doc=None):
            try:
                doc = _json.loads(content) if content else None
            except ValueError:
                doc = None
            return render(doc, meta, content)
        if op == "set":
            return val()
        if op == "append":
            return (content or "") + val()
        if op == "prepend":
            return val() + (content or "")
        if op == "to_upper":
            return (content or "").upper()
        if op == "to_lower":
            return (content or "").lower()
        if op == "trim_space":
            return (content or "").strip()
        if op == "trim":
            return (content or "").strip(str(spec.get("arg", "")))
        if op == "quote":
            return _json.dumps(content or "")
        if op == "unquote":
            # strconv.Unquote: anything but a quoted string is an error
            # that flags the part
            try:
                res = _json.loads(content or "")
            except ValueError:
                res = None
            if not isinstance(res, str):
                raise _OpError("invalid syntax")
            return res
        if op == "replace":
            return (content or "").replace(
                str(spec.get("arg", "")), val())
        if op == "replace_regexp":
            import re
            v = val()
            return re.sub(str(spec.get("arg", "")),
                          lambda m: _go_expand(m, v), content or "")
        if op == "strip_html":
            import re
            return re.sub(r"<[^>]*>", "", content or "")
        if op == "find_regexp":
            import re
            m = re.search(str(spec.get("arg", "")), content or "")
            return m.group(0) if m else ""
        if op == "regexp_expand":
            import re
            v = val()
            return "".join(
                _go_expand(m, v) for m in re.finditer(
                    str(spec.get("arg", "")), content or ""))
        if op == "escape_url_query":
            from urllib.parse import quote_plus
            return quote_plus(content or "")
        from urllib.parse import unquote_plus  # unescape_url_query
        return unquote_plus(content or "")

    return _content_stage(df, one)
