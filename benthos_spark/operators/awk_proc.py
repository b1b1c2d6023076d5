"""awk processor: the Benthos host-function surface over awk_lang.

Reference: lib/processor/awk.go — codecs none/text/json (awk.go:437-443
and 815-840), the custom function table (awk.go:520-628 placeholders,
685-805 bindings), flattenForAWK variable init (awk.go:632-656), and
the output contract (awk.go:855-875: non-empty program output replaces
content minus one trailing newline; otherwise JSON mutations persist;
non-zero exit / execution errors flag the message and pass the
original through).

Spark shape: the program compiles ONCE at config time (driver) and the
AST ships to executors; execution runs per message through
`datamodel.map_messages` (Arrow-batched), one interpreter instance per
message — the per-record imperative semantics are the operator's
substance, so this is the documented Pandas-UDF slow path (COVERAGE.md
doctrine).  Custom RS values are out of scope (records split on
newlines, matching the reference's default)."""

from __future__ import annotations

import datetime as _dt
import json
import re

from pyspark.sql import DataFrame

from benthos_spark.datamodel import CONTENT_COL, map_messages
from benthos_spark.operators.awk_lang import (AwkError, Interp, _to_num,
                                              _to_str, parse_program)

_VAR_INVALID = re.compile(r"[^a-zA-Z0-9_]")

_CODECS = ("none", "text", "json")


# ----------------------------------------------------- gabs-style paths

def _path_get(obj, path: str):
    cur = obj
    for seg in path.split("."):
        if isinstance(cur, dict):
            if seg not in cur:
                return None
            cur = cur[seg]
        elif isinstance(cur, list) and seg.isdigit():
            i = int(seg)
            if i >= len(cur):
                return None
            cur = cur[i]
        else:
            return None
    return cur


def _path_exists(obj, path: str) -> bool:
    cur = obj
    for seg in path.split("."):
        if isinstance(cur, dict):
            if seg not in cur:
                return False
            cur = cur[seg]
        elif isinstance(cur, list) and seg.isdigit():
            i = int(seg)
            if i >= len(cur):
                return False
            cur = cur[i]
        else:
            return False
    return True


def _path_set(obj, path: str, value):
    """gabs SetP: create intermediate objects, index into arrays with
    numeric segments, overwrite non-container intermediates."""
    segs = path.split(".")
    cur = obj
    for k, seg in enumerate(segs[:-1]):
        nxt_is_last = False
        if isinstance(cur, list) and seg.isdigit():
            i = int(seg)
            if i < len(cur):
                if not isinstance(cur[i], (dict, list)):
                    cur[i] = {}
                cur = cur[i]
                continue
            raise AwkError(f"array index {seg} out of range in {path}")
        if not isinstance(cur, dict):
            raise AwkError(f"cannot set path {path}")
        _ = nxt_is_last
        if seg not in cur or not isinstance(cur[seg], (dict, list)):
            cur[seg] = {}
        cur = cur[seg]
    last = segs[-1]
    if isinstance(cur, list) and last.isdigit():
        i = int(last)
        if i < len(cur):
            cur[i] = value
        else:
            raise AwkError(f"array index {last} out of range in {path}")
    elif isinstance(cur, dict):
        cur[last] = value
    else:
        raise AwkError(f"cannot set path {path}")


def _path_delete(obj, path: str):
    segs = path.split(".")
    cur = obj
    for seg in segs[:-1]:
        if isinstance(cur, dict) and seg in cur:
            cur = cur[seg]
        elif isinstance(cur, list) and seg.isdigit() \
                and int(seg) < len(cur):
            cur = cur[int(seg)]
        else:
            return
    last = segs[-1]
    if isinstance(cur, dict):
        cur.pop(last, None)
    elif isinstance(cur, list) and last.isdigit() \
            and int(last) < len(cur):
        cur.pop(int(last))


def _path_append(obj, path: str, value):
    old = _path_get(obj, path) if _path_exists(obj, path) else None
    if old is None and not _path_exists(obj, path):
        _path_set(obj, path, [value])
    elif isinstance(old, list):
        old.append(value)
    else:
        _path_set(obj, path, [old, value])


# ------------------------------------------------------- go timestamps

_GO_TOKENS = [  # longest-first scan
    ("2006", "%Y"), ("January", "%B"), ("Jan", "%b"), ("Monday", "%A"),
    ("Mon", "%a"), ("15", "%H"), ("04", "%M"), ("05", "%S"),
    ("06", "%y"), ("02", "%d"), ("01", "%m"), ("_2", "%d"),
    ("-0700", "%z"), ("-07:00", "%z"), ("Z0700", "%z"),
    ("Z07:00", "%z"), ("MST", "%Z"), ("PM", "%p"), ("pm", "%p"),
    ("2", "%d"), ("1", "%m"), ("3", "%H"),
]

_NANO_RE = re.compile(r"\.(0{1,9}|9{1,9})")


def _go_to_strptime(layout: str) -> tuple[str, int]:
    """Translate a Go reference-time layout to strftime/strptime.
    Returns (pattern, nano_digits) — fractional seconds are handled
    by the caller (strftime has no %N)."""
    out = []
    nano = 0
    i = 0
    while i < len(layout):
        m = _NANO_RE.match(layout, i)
        if m:
            nano = len(m.group(1))
            out.append(".\x01NANO\x01")
            i = m.end()
            continue
        for tok, fmt in _GO_TOKENS:
            if layout.startswith(tok, i):
                out.append(fmt)
                i += len(tok)
                break
        else:
            ch = layout[i]
            out.append("%%" if ch == "%" else ch)
            i += 1
    return "".join(out), nano


_DEFAULT_LAYOUTS = [  # getTime, awk.go:492-506 (same order)
    "Mon Jan 02 15:04:05 -0700 2006",   # RubyDate
    "Mon, 02 Jan 2006 15:04:05 -0700",  # RFC1123Z
    "Mon, 02 Jan 2006 15:04:05 MST",    # RFC1123
    "2006-01-02T15:04:05Z07:00",        # RFC3339
    "02 Jan 06 15:04 MST",              # RFC822
    "02 Jan 06 15:04 -0700",            # RFC822Z
    "Mon, 2 Jan 2006 15:04:05 -0700",
    "2006-01-02T15:04:05MST",
    "2006-01-02T15:04:05",
    "2006-01-02 15:04:05",
    "2006-01-02T15:04:05Z0700",
    "2006-01-02",
]


def _parse_go_time(date_str: str, layout: str = "") -> _dt.datetime:
    if date_str == "":
        return _dt.datetime.now(_dt.timezone.utc)
    layouts = [layout] if layout else _DEFAULT_LAYOUTS
    last_exc: Exception | None = None
    for lay in layouts:
        # RFC3339-style 'Z07:00' means Z or a numeric offset
        candidates = [date_str]
        if "Z07:00" in lay or "Z0700" in lay:
            candidates = [date_str.replace("Z", "+0000")
                          if date_str.endswith("Z") else date_str]
        pat, nano = _go_to_strptime(lay)
        pat = pat.replace(".\x01NANO\x01", "")
        _ = nano
        for cand in candidates:
            c = cand
            if "%z" in pat and ":" in c[-6:]:
                # strptime %z in 3.11 accepts ±HH:MM already
                pass
            try:
                dt = _dt.datetime.strptime(c, pat)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=_dt.timezone.utc)
                return dt
            except ValueError as exc:
                last_exc = exc
    raise AwkError(
        f"failed to detect datetime format of: {date_str}") from last_exc


def _format_go_time(epoch_s: float, layout: str, nanos: int = 0) -> str:
    if not layout:
        layout = "2006-01-02T15:04:05Z07:00"
    pat, nano_digits = _go_to_strptime(layout)
    dt = _dt.datetime.fromtimestamp(int(epoch_s), tz=_dt.timezone.utc)
    s = dt.strftime(pat)
    if "\x01NANO\x01" in s:
        frac = f"{nanos:09d}"[:nano_digits]
        s = s.replace("\x01NANO\x01", frac)
    # Go's Z07:00 renders +0000 as Z; strftime %z gives +0000
    if ("Z07:00" in layout or "Z0700" in layout) and s.endswith("+0000"):
        s = s[:-5] + "Z"
    return s


# --------------------------------------------------------- message ctx

def _num_to_json(v: float):
    return int(v) if float(v) == int(v) and abs(v) < 1e16 else float(v)


class _MsgCtx:
    """Per-message state shared by the host functions (part.JSON() /
    metadata semantics, awk.go:700-805)."""

    def __init__(self, content: str, meta: dict[str, str]):
        self.content = content
        self.meta = dict(meta)
        self._json = None
        self.json_mutated = False

    def get_json(self):
        if self._json is None:
            try:
                self._json = json.loads(self.content)
            except (ValueError, TypeError) as exc:
                raise AwkError(
                    f"failed to parse message into json: {exc}") from exc
            if not isinstance(self._json, (dict, list)):
                raise AwkError(
                    "failed to parse message into json: not a structured "
                    "document")
        return self._json

    def dumps(self) -> str:
        return json.dumps(self._json, sort_keys=True,
                          separators=(",", ":"))

    def host_funcs(self) -> dict:
        ctx = self

        def json_get(path):
            v = _path_get(ctx.get_json(), _to_str(path))
            if v is None:
                return "null"
            if isinstance(v, str):
                return v
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, (int, float)):
                return _to_str(float(v))
            return json.dumps(v, sort_keys=True, separators=(",", ":"))

        def _set(path, v):
            _path_set(ctx.get_json(), _to_str(path), v)
            ctx.json_mutated = True
            return 0.0

        def _append(path, v):
            _path_append(ctx.get_json(), _to_str(path), v)
            ctx.json_mutated = True
            return 0.0

        def json_type(path):
            doc = ctx.get_json()
            p = _to_str(path)
            if not _path_exists(doc, p):
                return "undefined"
            v = _path_get(doc, p)
            if v is None:
                return "null"
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, (int, float)):
                return "float"
            if isinstance(v, str):
                return "string"
            if isinstance(v, list):
                return "array"
            return "object"

        def json_length(path):
            v = _path_get(ctx.get_json(), _to_str(path))
            if isinstance(v, (str, list)):
                return float(len(v))
            return 0.0

        def timestamp_unix(date_str="", fmt=""):
            dt = _parse_go_time(_to_str(date_str), _to_str(fmt))
            return float(int(dt.timestamp()))

        def timestamp_unix_nano(date_str="", fmt=""):
            dt = _parse_go_time(_to_str(date_str), _to_str(fmt))
            return float(int(dt.timestamp()) * 1_000_000_000)

        def timestamp_format(epoch, fmt=""):
            return _format_go_time(_to_num(epoch), _to_str(fmt))

        def timestamp_format_nano(epoch_nano, fmt=""):
            total = int(_to_num(epoch_nano))
            return _format_go_time(total // 1_000_000_000, _to_str(fmt),
                                   nanos=total % 1_000_000_000)

        def create_json_object(*args):
            if len(args) % 2:
                raise AwkError("create_json_object: odd argument count")
            obj = {_to_str(args[i]): _to_str(args[i + 1])
                   for i in range(0, len(args), 2)}
            return json.dumps(obj, sort_keys=True, separators=(",", ":"))

        def create_json_array(*args):
            return json.dumps([_to_str(a) for a in args],
                              separators=(",", ":"))

        return {
            "json_get": json_get,
            "json_set": lambda p, v: _set(p, _to_str(v)),
            "json_set_int": lambda p, v: _set(p, int(_to_num(v))),
            "json_set_float": lambda p, v: _set(p, _num_to_json(
                _to_num(v))),
            "json_set_bool": lambda p, v: _set(
                p, bool(_to_num(v)) if not isinstance(v, str)
                else v not in ("", "0")),
            "json_append": lambda p, v: _append(p, _to_str(v)),
            "json_append_int": lambda p, v: _append(p, int(_to_num(v))),
            "json_append_float": lambda p, v: _append(p, _num_to_json(
                _to_num(v))),
            "json_append_bool": lambda p, v: _append(
                p, bool(_to_num(v)) if not isinstance(v, str)
                else v not in ("", "0")),
            "json_delete": lambda p: (_path_delete(ctx.get_json(),
                                                   _to_str(p)),
                                      setattr(ctx, "json_mutated", True),
                                      0.0)[-1],
            "json_length": json_length,
            "json_type": json_type,
            "metadata_get": lambda k: ctx.meta.get(_to_str(k), ""),
            "metadata_set": lambda k, v: (
                ctx.meta.__setitem__(_to_str(k), _to_str(v)), 0.0)[-1],
            "timestamp_unix": timestamp_unix,
            "timestamp_unix_nano": timestamp_unix_nano,
            "timestamp_format": timestamp_format,
            "timestamp_format_nano": timestamp_format_nano,
            "create_json_object": create_json_object,
            "create_json_array": create_json_array,
            "print_log": lambda value, level="INFO": 0.0,
        }


def _flatten_for_awk(path: str, data) -> dict[str, str]:
    """flattenForAWK (awk.go:632-656): json codec variable init —
    dot-joined paths, array elements collapse onto the same path."""
    m: dict[str, str] = {}
    if isinstance(data, dict):
        for k, v in data.items():
            new_path = f"{path}.{k}" if path else k
            m.update(_flatten_for_awk(new_path, v))
    elif isinstance(data, list):
        for ele in data:
            m.update(_flatten_for_awk(path, ele))
    else:
        if isinstance(data, bool):
            m[path] = "true" if data else "false"
        elif data is None:
            m[path] = "<nil>"
        elif isinstance(data, float) and data == int(data):
            m[path] = str(int(data))
        else:
            m[path] = str(data)
    return m


def run_awk_message(ast, codec: str, content: str,
                    meta: dict[str, str]) -> tuple[str, dict, str | None]:
    """Execute a compiled program against one message.  Returns
    (content, meta, error) with the reference's output contract."""
    ctx = _MsgCtx(content or "", meta or {})
    variables: dict[str, str] = {}
    try:
        if codec == "json":
            doc = ctx.get_json()
            for k, v in _flatten_for_awk("", doc).items():
                variables[_VAR_INVALID.sub("_", k)] = v
        if codec != "none":
            for k, v in ctx.meta.items():
                variables[_VAR_INVALID.sub("_", k)] = v
        if codec != "text":
            records = [" "]
        elif not content:
            # empty stdin runs zero records in the reference (only
            # BEGIN/END rules execute) — awk.go feeds goawk empty input
            records = []
        else:
            records = content.removesuffix("\n").split("\n")
        interp = Interp(ast, funcs=ctx.host_funcs(), vars=variables)
        status = interp.run(records)
        if status != 0:
            return content, meta, (
                f"awk interpreter returned non-zero exit code: {status}")
        out = interp.output()
        if out:
            new_content = out.removesuffix("\n")
        elif ctx.json_mutated:
            new_content = ctx.dumps()
        else:
            new_content = content
        return new_content, ctx.meta, None
    except AwkError as exc:
        return content, meta, str(exc)
    except Exception as exc:  # noqa: BLE001 — reference contract:
        # any execution error flags the message and passes the
        # original through (awk.go:855); a data-dependent runtime
        # error must never fail the whole Spark task
        return content, meta, f"awk runtime error: {exc}"


def awk_process(df: DataFrame, program: str,
                codec: str = "text") -> DataFrame:
    """awk processor over a frame: compile once, execute per message
    through `datamodel.map_messages` (awk.go IteratePartsWithSpan)."""
    if codec not in _CODECS:
        raise AwkError(f"unrecognised codec: {codec}")
    ast = parse_program(program)  # config-time compile errors surface here
    if CONTENT_COL not in df.columns:
        raise AwkError(f"awk: missing column {CONTENT_COL!r}")
    return map_messages(df, lambda content, meta, error: [
        run_awk_message(ast, codec, content, meta)])
