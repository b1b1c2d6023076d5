"""`jq` processor (lib/processor/jq.go:18) — jq queries over message JSON.

The reference executes a gojq program per message: the message content is
replaced with the query result; *no* emitted value filters the message;
multiple values become an array; metadata is reachable as `$metadata`;
failures leave content unchanged and flag the part (jq.go:34-45 summary,
error-handling doc).

Spark-first split:

- **Pure path queries** (`.a.b.c`, the overwhelmingly common case) compile
  to `to_json(try_variant_get(parse_json(content), '$.a.b.c', 'variant'))`
  — one JVM-side Project, whole-stage codegen, no Python.
- **General queries** run a small jq interpreter (streaming semantics:
  every expression maps one value to a *stream* of values, pipes compose
  streams) per message through `datamodel.map_messages` — the
  documented slow path, same shape as the reference's per-message gojq
  closure but Arrow-batched over record batches.

Supported surface: identity, field access (+ optional `?`), indexing,
iteration `[]`, recursive descent `..`, pipe `|`, comma `,`, `select`,
object/array construction, arithmetic `+ - * / %` with jq type rules
(string/array concat, object merge), comparisons, `and/or/not`,
alternative `//`, `$metadata`, `as $var` bindings, `if/then/elif/else/
end`, `try EXPR catch HANDLER`, `reduce`/`foreach`, user functions
(`def f: ...;` and `def f(a; $b): ...;` with filter and value params,
recursion allowed), the assignment family (`=`, `|=`, `+=`, `-=`, `*=`,
`/=`, `%=`, `//=`) over path expressions, `del`, string interpolation
`"\\(expr)"`, multi-argument calls `f(a; b)`, string functions
(`split/join/test/capture/sub/gsub/startswith/endswith/ltrimstr/
rtrimstr`, `ascii_downcase/upcase`, `tostring/tonumber/tojson/
fromjson`), array/object functions (`length/keys/has/map/add/sort/
sort_by/group_by/unique/unique_by/min_by/max_by/reverse/first/last/min/
max/range/flatten/to_entries/from_entries/with_entries/any/all/
contains`), path functions (`path/getpath/setpath/delpaths`), control
(`empty/error/limit/first(f)/last(f)/until/while/recurse`),
`floor/ceil/fabs/type`, array/string slices `.[2:5]`, destructuring
`as [$a, $b]` / `as {k: $x, $y}` patterns, format strings (`@text
@json @csv @tsv @html @uri @sh @base64 @base64d`, bare or applied to
interpolations `@base64 "\\(.x)"`), type filters (`numbers/strings/
booleans/arrays/objects/nulls/iterables/scalars/values`), object
multiplication `*` (deep merge), string `*` n repetition,
`paths/leaf_paths/keys_unsorted/splits/indices/implode/explode/
utf8bytelength`, date builtins (`now/todate/fromdate/gmtime/mktime/
strftime/strptime` + iso8601 aliases), `env`/`$ENV`,
`isnan/isinfinite/isnormal/infinite/nan/abs/halt_error`.  Unsupported
syntax raises `JQCompileError` at plan-build time, never mid-job.

String literals lex through a modal scanner (like jq's own lexer), so
interpolations may nest strings and further interpolations arbitrarily
(`"\\(.a // "x")"`, `"outer \\("inner \\(.v)")"`).
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass
from itertools import product
from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from benthos_spark.datamodel import (CONTENT_COL, ERROR_COL, flag_error,
                                     map_messages)

__all__ = ["JQCompileError", "JQError", "parse_jq", "jq_eval_text",
           "jq_static_path", "jq_transform"]


class JQCompileError(ValueError):
    """Query uses syntax outside the supported subset (raised at build)."""


class JQError(RuntimeError):
    """Runtime jq error for one message (→ `_error`, content unchanged)."""


# ---------------------------------------------------------------- tokens

_TOKEN_RE = re.compile(r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<str>"(?:[^"\\]|\\.)*")
  | (?P<var>\$[A-Za-z_][A-Za-z0-9_]*)
  | (?P<fmt>@[A-Za-z0-9_]+)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>\.\.|//=|//|==|!=|<=|>=|\|=|\+=|-=|\*=|/=|%=
         |\||\.|\[|\]|\{|\}|\(|\)|,|:|;|\?|\+|-|\*|/|%|<|>|=)
""", re.VERBOSE)

_ASSIGN_OPS = ("=", "|=", "+=", "-=", "*=", "/=", "%=", "//=")

# idents that terminate an expression — never a zero-arg call
_RESERVED = {"then", "elif", "else", "end", "catch", "as", "and", "or",
             "def"}


def _scan_string(src: str, i: int) -> tuple[str, int]:
    """Scan a string literal starting at src[i] == '"', honouring
    escapes AND interpolation segments `\\( ... )` — the inner
    expression may itself contain strings (which may contain further
    interpolations), so the paren balance must treat them as opaque.
    jq's lexer is modal here; a flat regex cannot be.  Returns the
    full token text (quotes included) and the index after it."""
    j = i + 1
    while j < len(src):
        c = src[j]
        if c == "\\":
            if j + 1 < len(src) and src[j + 1] == "(":
                depth, j = 1, j + 2
                while j < len(src) and depth:
                    if src[j] == "\\":
                        j += 2
                    elif src[j] == '"':
                        _, j = _scan_string(src, j)
                    else:
                        if src[j] == "(":
                            depth += 1
                        elif src[j] == ")":
                            depth -= 1
                        j += 1
                if depth:
                    raise JQCompileError(
                        "jq: unterminated interpolation")
                continue
            j += 2
            continue
        if c == '"':
            return src[i:j + 1], j + 1
        j += 1
    raise JQCompileError("jq: unterminated string literal")


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(src):
        if src[i] == '"':
            tok, i = _scan_string(src, i)
            out.append(("str", tok))
            continue
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise JQCompileError(f"jq: bad character {src[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind != "ws":
            out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


# ---------------------------------------------------------------- AST

@dataclass
class N:
    kind: str
    a: Any = None
    b: Any = None
    c: Any = None


class _Parser:
    """Recursive descent; precedence (low→high): `|`, `,`, `//`, or, and,
    comparison, additive, multiplicative, unary, postfix."""

    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, val: str) -> None:
        k, v = self.next()
        if v != val:
            raise JQCompileError(f"jq: expected {val!r}, got {v!r}")

    def parse(self) -> N:
        n = self.pipe()
        if self.peek()[0] != "eof":
            raise JQCompileError(f"jq: trailing input at {self.peek()[1]!r}")
        return n

    def pipe(self) -> N:
        if self.peek() == ("ident", "def"):
            return self.funcdef()
        n = self.comma()
        if self.peek() == ("ident", "as"):
            # EXPR as PATTERN | BODY — body input stays `.`; the
            # pattern is $var or an array/object destructuring form
            self.next()
            pat = self.as_pattern()
            self.expect("|")
            return N("bind", n, pat, self.pipe())
        while self.peek()[1] == "|":
            self.next()
            n = N("pipe", n, self.pipe())
        return n

    def as_pattern(self):
        """Destructuring pattern: $var, [p, ...], {key: p, $shorthand}."""
        k, v = self.next()
        if k == "var":
            return ("var", v[1:])
        if v == "[":
            pats = [self.as_pattern()]
            while self.peek()[1] == ",":
                self.next()
                pats.append(self.as_pattern())
            self.expect("]")
            return ("arr", pats)
        if v == "{":
            pairs = []
            while True:
                kk, kv = self.next()
                if kk == "var":  # {$a} binds .a to $a
                    pairs.append((kv[1:], ("var", kv[1:])))
                elif kk in ("ident", "str"):
                    key = json.loads(kv) if kk == "str" else kv
                    self.expect(":")
                    pairs.append((key, self.as_pattern()))
                else:
                    raise JQCompileError(f"jq: bad pattern key {kv!r}")
                if self.peek()[1] == ",":
                    self.next()
                    continue
                break
            self.expect("}")
            return ("obj", pairs)
        raise JQCompileError(f"jq: bad `as` pattern at {v!r}")

    def funcdef(self) -> N:
        # def name: body;  /  def name(a; $b): body;  — scope = rest
        self.next()  # 'def'
        k, name = self.next()
        if k != "ident" or name in _RESERVED:
            raise JQCompileError(f"jq: bad function name {name!r}")
        params: list[str] = []
        if self.peek()[1] == "(":
            self.next()
            while True:
                pk, pv = self.next()
                if pk == "var":
                    params.append(pv)  # keeps the $
                elif pk == "ident" and pv not in _RESERVED:
                    params.append(pv)
                else:
                    raise JQCompileError(f"jq: bad parameter {pv!r}")
                if self.peek()[1] == ";":
                    self.next()
                    continue
                break
            self.expect(")")
        self.expect(":")
        body = self.pipe()
        self.expect(";")
        return N("def", (name, params, body), self.pipe())

    def pipe_nocomma(self) -> N:
        # jq object values are ExpD: pipes allowed, commas separate pairs
        n = self.alt()
        while self.peek()[1] == "|":
            self.next()
            n = N("pipe", n, self.alt())
        return n

    def comma(self) -> N:
        n = self.alt()
        while self.peek()[1] == ",":
            self.next()
            n = N("comma", n, self.alt())
        return n

    def alt(self) -> N:
        n = self.assign()
        while self.peek()[1] == "//":
            self.next()
            n = N("alt", n, self.assign())
        return n

    def assign(self) -> N:
        # nonassoc, between `//` and `or` (jq parser.y precedence)
        n = self.or_()
        if self.peek()[1] in _ASSIGN_OPS:
            op = self.next()[1]
            rhs = self.or_()
            if self.peek()[1] in _ASSIGN_OPS:
                raise JQCompileError("jq: assignment is non-associative")
            return N("assign", n, rhs, op)
        return n

    def or_(self) -> N:
        n = self.and_()
        while self.peek() == ("ident", "or"):
            self.next()
            n = N("or", n, self.and_())
        return n

    def and_(self) -> N:
        n = self.cmp()
        while self.peek() == ("ident", "and"):
            self.next()
            n = N("and", n, self.cmp())
        return n

    def cmp(self) -> N:
        n = self.add()
        while self.peek()[1] in ("==", "!=", "<", "<=", ">", ">="):
            op = self.next()[1]
            n = N("cmp", n, self.add(), op)
        return n

    def add(self) -> N:
        n = self.mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            n = N("arith", n, self.mul(), op)
        return n

    def mul(self) -> N:
        n = self.unary()
        while self.peek()[1] in ("*", "/", "%"):
            op = self.next()[1]
            n = N("arith", n, self.unary(), op)
        return n

    def unary(self) -> N:
        if self.peek()[1] == "-":
            self.next()
            operand = self.postfix()
            if self.peek() == ("ident", "as"):
                # jq.y: the `as` token has no declared precedence, so
                # yacc SHIFTS it under unary minus — `-1 as $v | body`
                # negates the ENTIRE binding's output stream, it does
                # not bind $v = -1 (r8 jq-fuzzer soak find #7:
                # `-1 as $v | 5, 6` is [-5, -6] in jq 1.6).
                self.next()
                pat = self.as_pattern()
                self.expect("|")
                return N("neg", N("bind", operand, pat, self.pipe()))
            return N("neg", operand)
        return self.postfix()

    def postfix(self) -> N:
        n = self.primary()
        while True:
            k, v = self.peek()
            if v == ".":
                # `.foo` chained on an expression result
                self.next()
                k2, v2 = self.next()
                if k2 != "ident":
                    raise JQCompileError("jq: expected field after '.'")
                n = N("field", n, v2)
            elif v == "[":
                self.next()
                if self.peek()[1] == "]":
                    self.next()
                    n = N("iterate", n)
                elif self.peek()[1] == ":":
                    self.next()
                    end = self.pipe()
                    self.expect("]")
                    n = N("slice", n, (None, end))
                else:
                    idx = self.pipe()
                    if self.peek()[1] == ":":
                        self.next()
                        if self.peek()[1] == "]":
                            self.next()
                            n = N("slice", n, (idx, None))
                        else:
                            end = self.pipe()
                            self.expect("]")
                            n = N("slice", n, (idx, end))
                    else:
                        self.expect("]")
                        n = N("index", n, idx)
            elif v == "?":
                self.next()
                n = N("try", n)
            else:
                return n

    def primary(self) -> N:
        k, v = self.next()
        if v == ".":
            k2, v2 = self.peek()
            if k2 == "ident" and v2 not in _RESERVED:
                self.next()
                return N("field", N("identity"), v2)
            if k2 == "str":
                self.next()
                return N("field", N("identity"), json.loads(v2))
            return N("identity")
        if v == "..":
            return N("call", "recurse", [])
        if v == "(":
            n = self.pipe()
            self.expect(")")
            return n
        if v == "[":
            if self.peek()[1] == "]":
                self.next()
                return N("array", None)
            n = self.pipe()
            self.expect("]")
            return N("array", n)
        if v == "{":
            pairs = []
            while self.peek()[1] != "}":
                kk, kv = self.next()
                if kk == "str":
                    key = json.loads(kv)
                elif kk == "ident":
                    key = kv
                else:
                    raise JQCompileError(f"jq: bad object key {kv!r}")
                if self.peek()[1] == ":":
                    self.next()
                    val = self.pipe_nocomma()
                else:  # {foo} shorthand
                    val = N("field", N("identity"), key)
                pairs.append((key, val))
                if self.peek()[1] == ",":
                    self.next()
            self.expect("}")
            return N("object", pairs)
        if k == "num":
            return N("lit", float(v) if "." in v or "e" in v.lower()
                     else int(v))
        if k == "str":
            return _parse_string(v)
        if k == "fmt":
            # @base64 etc.: bare → format the input; followed by a
            # string literal → format only the interpolated segments
            name = v[1:]
            if name not in _FORMATS:
                raise JQCompileError(f"jq: unknown format @{name}")
            if self.peek()[0] == "str":
                return _parse_string(self.next()[1], fmt=name)
            return N("format", name)
        if k == "var":
            return N("var", v[1:])
        if k == "ident":
            if v in ("true", "false", "null"):
                return N("lit", {"true": True, "false": False,
                                 "null": None}[v])
            if v == "not":
                return N("call", "not", [])
            if v == "if":
                return self.if_expr()
            if v == "try":
                # jq accepts unary-minus terms on both sides
                # (`try -1 catch -2` parses in jq 1.6) — r8 jq-fuzzer
                # find #4: `catch -1` was "unexpected token '-'"
                body = self.unary()
                handler = None
                if self.peek() == ("ident", "catch"):
                    self.next()
                    handler = self.unary()
                return N("trycatch", body, handler)
            if v in ("reduce", "foreach"):
                src = self.postfix()
                if self.next() != ("ident", "as"):
                    raise JQCompileError(f"jq: {v} needs `as $var`")
                vk, vv = self.next()
                if vk != "var":
                    raise JQCompileError(f"jq: {v} needs a $variable")
                self.expect("(")
                init = self.pipe()
                self.expect(";")
                update = self.pipe()
                extract = None
                if self.peek()[1] == ";":
                    if v == "reduce":
                        raise JQCompileError("jq: reduce takes 2 parts")
                    self.next()
                    extract = self.pipe()
                self.expect(")")
                return N(v, src, vv[1:], (init, update, extract))
            if v in _RESERVED:
                raise JQCompileError(f"jq: unexpected keyword {v!r}")
            if self.peek()[1] == "(":
                self.next()
                args = [self.pipe()]
                while self.peek()[1] == ";":
                    self.next()
                    args.append(self.pipe())
                self.expect(")")
                return N("call", v, args)
            return N("call", v, [])
        raise JQCompileError(f"jq: unexpected token {v!r}")

    def if_expr(self) -> N:
        pairs = []
        cond = self.pipe()
        if self.next() != ("ident", "then"):
            raise JQCompileError("jq: if needs `then`")
        pairs.append((cond, self.pipe()))
        els = None
        while True:
            t = self.next()
            if t == ("ident", "elif"):
                c2 = self.pipe()
                if self.next() != ("ident", "then"):
                    raise JQCompileError("jq: elif needs `then`")
                pairs.append((c2, self.pipe()))
            elif t == ("ident", "else"):
                els = self.pipe()
                if self.next() != ("ident", "end"):
                    raise JQCompileError("jq: if needs `end`")
                break
            elif t == ("ident", "end"):
                break
            else:
                raise JQCompileError(
                    f"jq: expected elif/else/end, got {t[1]!r}")
        return N("if", pairs, els)


def _parse_string(tok: str, fmt: str | None = None) -> N:
    """String literal token → lit node, or an `interp` node when it
    contains jq interpolation segments `\\(expr)`.  With `fmt`, each
    interpolated value runs through @fmt before joining."""
    body = tok[1:-1]
    if "\\(" not in body:
        return N("lit", json.loads(tok))
    parts: list[Any] = []  # literal str segments and N nodes
    buf: list[str] = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body) and body[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(body) and depth:
                if body[j] == "\\":
                    j += 2
                elif body[j] == '"':
                    # nested string literal is opaque to the balance
                    _, j = _scan_string(body, j)
                else:
                    if body[j] == "(":
                        depth += 1
                    elif body[j] == ")":
                        depth -= 1
                    j += 1
            if depth:
                raise JQCompileError("jq: unterminated interpolation")
            if buf:
                parts.append(json.loads('"' + "".join(buf) + '"'))
                buf = []
            parts.append(parse_jq(body[i + 2:j - 1]))
            i = j
        elif c == "\\":
            buf.append(body[i:i + 2])
            i += 2
        else:
            buf.append(c)
            i += 1
    if buf:
        parts.append(json.loads('"' + "".join(buf) + '"'))
    return N("interp", parts, fmt)


def parse_jq(src: str) -> N:
    return _Parser(_tokenize(src)).parse()


# ---------------------------------------------------------------- eval

def _deep_merge(a: dict, b: dict) -> dict:
    """jq object multiplication: recursive merge, right side wins on
    non-object conflicts."""
    out = dict(a)
    for k, bv in b.items():
        av = out.get(k)
        out[k] = (_deep_merge(av, bv)
                  if isinstance(av, dict) and isinstance(bv, dict)
                  else bv)
    return out


def _destructure(pat, val: Any, env: dict[str, Any]) -> None:
    """Bind an `as` pattern: $var / [p, ...] / {key: p}.  Missing
    elements bind null, like jq."""
    if isinstance(pat, str):  # legacy plain-name form
        env[pat] = val
        return
    kind = pat[0]
    if kind == "var":
        env[pat[1]] = val
    elif kind == "arr":
        if val is None:
            val = []
        if not isinstance(val, list):
            raise JQError(f"cannot destructure {_jqtype(val)} as array")
        for i, p in enumerate(pat[1]):
            _destructure(p, val[i] if i < len(val) else None, env)
    else:  # obj
        if val is None:
            val = {}
        if not isinstance(val, dict):
            raise JQError(f"cannot destructure {_jqtype(val)} as object")
        for key, p in pat[1]:
            _destructure(p, val.get(key), env)


def _truthy(v: Any) -> bool:
    return v is not None and v is not False


def _tonum(v: Any) -> float | int:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        if isinstance(v, str):
            try:
                f = float(v)
                return int(f) if f.is_integer() and "." not in v else f
            except ValueError as e:
                raise JQError(f"cannot parse {v!r} as number") from e
        raise JQError(f"{_jqtype(v)} cannot be parsed as number")
    return v


def _jqtype(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    return "object"


def _jq_regex(pat: Any, name: str) -> str:
    """jq regexes are Oniguruma: named groups spell `(?<name>...)`
    where Python wants `(?P<name>...)` (lookbehinds `(?<=`/`(?<!` are
    untouched).  Every builtin that compiles a user pattern routes
    through here — `capture("(?<x>a)")` crashed Python's re before
    this (r9 widening find)."""
    if not isinstance(pat, str):
        raise JQError(f"{name}: regex must be a string")
    return re.sub(r"\(\?<(?![=!])", "(?P<", pat)


def _re_flags(flags: Any, name: str) -> tuple[int, str]:
    """jq regex flags → Python re flags.  Supported: g (global —
    handled by the caller's match loop), i (case-insensitive), x
    (extended), s (dot-matches-newline), m (multiline... jq's Oniguruma
    'm' means DOTALL; 'p' means both).  n/l are matcher-behavior flags
    this clean-room engine does not carry — clean error, same doctrine
    as awk's terminal ops."""
    if flags is None:
        flags = ""
    if not isinstance(flags, str):
        raise JQError(f"{name}: flags must be a string")
    py = 0
    for ch in flags:
        if ch == "i":
            py |= re.IGNORECASE
        elif ch == "x":
            py |= re.VERBOSE
        elif ch in ("s", "m", "p"):
            py |= re.DOTALL
            if ch == "p":
                py |= re.MULTILINE
        elif ch != "g":
            raise JQError(f"{name}: unsupported regex flag {ch!r}")
    return py, flags


def _add(a: Any, b: Any) -> Any:
    if a is None:
        return b
    if b is None:
        return a
    if isinstance(a, bool) or isinstance(b, bool):
        raise JQError("boolean + boolean not defined")
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a + b
    if isinstance(a, str) and isinstance(b, str):
        return a + b
    if isinstance(a, list) and isinstance(b, list):
        return a + b
    if isinstance(a, dict) and isinstance(b, dict):
        return {**a, **b}
    raise JQError(f"{_jqtype(a)} and {_jqtype(b)} cannot be added")


# jq comparisons are TOTAL across types (null < false < true < numbers
# < strings < arrays < objects — jq manual "Comparison") and equality
# is type-strict (1 != true where Python says True == 1), so the
# general route goes through _sort_key, the same key sort/min/max
# use.  r8 jq-fuzzer find #2: `0 < .arr[0]` on an empty array
# compares a number with null — jq says false, the raw-Python
# version raised.  Fast path (r8 verdict ask #8 — the total-order
# rework made jq_advanced pay two tuple constructions per compare):
# same-class number/number and string/string pairs compare directly,
# which is exactly what their _sort_key tuples would do positionally
# (bools are EXCLUDED from the numeric lane — they are a distinct,
# lower rank).


def _cmp_fast(op):
    def cmp(a, b):
        if isinstance(a, bool) or isinstance(b, bool):
            return op(_sort_key(a), _sort_key(b))
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return op(a, b)
        if isinstance(a, str) and isinstance(b, str):
            return op(a, b)
        return op(_sort_key(a), _sort_key(b))
    return cmp


_CMP = {"==": _cmp_fast(lambda a, b: a == b),
        "!=": _cmp_fast(lambda a, b: a != b),
        "<": _cmp_fast(lambda a, b: a < b),
        "<=": _cmp_fast(lambda a, b: a <= b),
        ">": _cmp_fast(lambda a, b: a > b),
        ">=": _cmp_fast(lambda a, b: a >= b)}


def _eval(n: N, v: Any, env: dict[str, Any]) -> Iterator[Any]:
    kind = n.kind
    if kind == "identity":
        yield v
    elif kind == "lit":
        yield n.a
    elif kind == "var":
        if n.a in env:
            yield env[n.a]
        elif n.a == "ENV":
            # lazy $ENV: snapshotting os.environ EAGERLY per message
            # (the old per-call dict(os.environ) seed) was ~60% of
            # interpreter wall for programs that never touch it —
            # 82 getenv decodes x rows; on-demand here is the same
            # snapshot-at-evaluation the `env` builtin already does
            import os
            yield dict(os.environ)
        else:
            raise JQError(f"${n.a} is not defined")
    elif kind == "field":
        for base in _eval(n.a, v, env):
            if base is None:
                yield None
            elif isinstance(base, dict):
                yield base.get(n.b)
            else:
                raise JQError(
                    f"cannot index {_jqtype(base)} with \"{n.b}\"")
    elif kind == "index":
        for base in _eval(n.a, v, env):
            for idx in _eval(n.b, v, env):
                if base is None:
                    yield None
                elif isinstance(base, list) and isinstance(idx, int):
                    yield base[idx] if -len(base) <= idx < len(base) else None
                elif isinstance(base, dict) and isinstance(idx, str):
                    yield base.get(idx)
                else:
                    raise JQError(
                        f"cannot index {_jqtype(base)} with {_jqtype(idx)}")
    elif kind == "iterate":
        for base in _eval(n.a, v, env):
            if isinstance(base, list):
                yield from base
            elif isinstance(base, dict):
                yield from base.values()
            else:
                raise JQError(f"cannot iterate over {_jqtype(base)}")
    elif kind == "pipe":
        for mid in _eval(n.a, v, env):
            yield from _eval(n.b, mid, env)
    elif kind == "comma":
        yield from _eval(n.a, v, env)
        yield from _eval(n.b, v, env)
    elif kind == "try":
        try:
            yield from list(_eval(n.a, v, env))
        except JQError:
            pass
    elif kind == "alt":
        got = False
        try:
            for x in _eval(n.a, v, env):
                if _truthy(x):
                    got = True
                    yield x
        except JQError:
            pass
        if not got:
            yield from _eval(n.b, v, env)
    elif kind == "or":
        for a in _eval(n.a, v, env):
            if _truthy(a):
                yield True
            else:
                for b in _eval(n.b, v, env):
                    yield _truthy(b)
    elif kind == "and":
        for a in _eval(n.a, v, env):
            if not _truthy(a):
                yield False
            else:
                for b in _eval(n.b, v, env):
                    yield _truthy(b)
    elif kind == "cmp":
        for a in _eval(n.a, v, env):
            for b in _eval(n.b, v, env):
                try:
                    yield _CMP[n.c](a, b)
                except TypeError as e:
                    raise JQError(
                        f"{_jqtype(a)} {n.c} {_jqtype(b)}") from e
    elif kind == "arith":
        for a in _eval(n.a, v, env):
            for b in _eval(n.b, v, env):
                if n.c == "+":
                    yield _add(a, b)
                elif n.c == "-" and isinstance(a, list) and isinstance(b, list):
                    # jq equality is type-strict: [1] - [true] keeps 1
                    # (Python's `in` says True == 1) — use _sort_key
                    bk = [_sort_key(y) for y in b]
                    yield [x for x in a if _sort_key(x) not in bk]
                elif n.c == "/" and isinstance(a, str) and isinstance(b, str):
                    # jq: "" / sep is [] (see split)
                    yield a.split(b) if a else []
                elif (n.c == "*" and isinstance(a, dict)
                      and isinstance(b, dict)):
                    yield _deep_merge(a, b)
                elif n.c == "*" and isinstance(a, str) and isinstance(
                        b, (int, float)) and not isinstance(b, bool):
                    # jq: string * n repeats; n <= 0 yields null
                    yield a * int(b) if b > 0 else None
                else:
                    x, y = _tonum(a), _tonum(b)
                    if n.c == "-":
                        yield x - y
                    elif n.c == "*":
                        yield x * y
                    elif n.c == "/":
                        if y == 0:
                            raise JQError("division by zero")
                        yield x / y
                    else:
                        if y == 0:
                            raise JQError("division by zero")
                        # jq/gojq `%` is C/Go TRUNCATED int modulo
                        # (result takes the dividend's sign: -7 % 3 is
                        # -1) — Python's native % is floored (2).
                        # r8 jq-fuzzer find #1.
                        q = abs(int(x)) % abs(int(y))
                        yield -q if x < 0 else q
    elif kind == "neg":
        for a in _eval(n.a, v, env):
            yield -_tonum(a)
    elif kind == "array":
        yield list(_eval(n.a, v, env)) if n.a is not None else []
    elif kind == "object":
        streams = [list(_eval(val, v, env)) for _, val in n.a]
        keys = [k for k, _ in n.a]
        for combo in product(*streams):
            yield dict(zip(keys, combo))
    elif kind == "call":
        yield from _call(n.a, n.b, v, env)
    elif kind == "bind":
        for val in _eval(n.a, v, env):
            env2 = dict(env)
            _destructure(n.b, val, env2)
            yield from _eval(n.c, v, env2)
    elif kind == "def":
        name, params, body = n.a
        funcs = dict(env.get("__funcs__") or {})
        def_env = {**env}
        funcs[(name, len(params))] = (params, body, def_env)
        def_env["__funcs__"] = funcs  # includes itself → recursion
        yield from _eval(n.b, v, def_env)
    elif kind == "if":
        def _if(i: int) -> Iterator[Any]:
            if i == len(n.a):
                if n.b is None:
                    yield v  # omitted else defaults to `.`
                else:
                    yield from _eval(n.b, v, env)
                return
            cond, then = n.a[i]
            for c in _eval(cond, v, env):
                if _truthy(c):
                    yield from _eval(then, v, env)
                else:
                    yield from _if(i + 1)
        yield from _if(0)
    elif kind == "trycatch":
        try:
            yield from list(_eval(n.a, v, env))
        except JQError as e:
            if n.b is not None:
                yield from _eval(n.b, str(e), env)
    elif kind == "reduce":
        init, update, _ = n.c
        for acc in _eval(init, v, env):
            for x in _eval(n.a, v, env):
                outs = list(_eval(update, acc, {**env, n.b: x}))
                acc = outs[-1] if outs else None
            yield acc
    elif kind == "foreach":
        init, update, extract = n.c
        for acc in _eval(init, v, env):
            for x in _eval(n.a, v, env):
                env2 = {**env, n.b: x}
                outs = list(_eval(update, acc, env2))
                for o in outs:
                    if extract is None:
                        yield o
                    else:
                        yield from _eval(extract, o, env2)
                if outs:
                    acc = outs[-1]
    elif kind == "assign":
        yield from _assign(n, v, env)
    elif kind == "closure":
        # a filter argument bound to a `def` parameter: evaluate the
        # original node in the argument-site env with the current input
        argnode, cenv = n.a
        yield from _eval(argnode, v, cenv)
    elif kind == "interp":
        def render(x: Any) -> str:
            if n.b is not None:
                return _format(n.b, x)
            return x if isinstance(x, str) else _dumps(x)
        streams = [[p] if isinstance(p, str)
                   else [render(x) for x in _eval(p, v, env)]
                   for p in n.a]
        for combo in product(*streams):
            yield "".join(combo)
    elif kind == "format":
        yield _format(n.a, v)
    elif kind == "slice":
        start_n, end_n = n.b
        for base in _eval(n.a, v, env):
            for s in ([None] if start_n is None
                      else _eval(start_n, v, env)):
                for e in ([None] if end_n is None
                          else _eval(end_n, v, env)):
                    if base is None:
                        yield None
                        continue
                    if not isinstance(base, (list, str)):
                        raise JQError(
                            f"cannot slice {_jqtype(base)}")
                    lo = None if s is None else int(math.floor(s))
                    hi = None if e is None else int(math.ceil(e))
                    yield base[lo:hi]
    else:  # pragma: no cover
        raise JQCompileError(f"jq: unknown node {kind}")


# ------------------------------------------------------------- paths

def _path_eval(n: N, v: Any, env: dict[str, Any]
               ) -> Iterator[tuple[list, Any]]:
    """Evaluate a *path expression*: yields (path, value-at-path)
    pairs, the machinery behind jq assignment and `path()`
    (gojq's invalid-path errors match)."""
    kind = n.kind
    if kind == "identity":
        yield [], v
    elif kind == "field":
        for p, base in _path_eval(n.a, v, env):
            if base is None:
                yield p + [n.b], None
            elif isinstance(base, dict):
                yield p + [n.b], base.get(n.b)
            else:
                raise JQError(
                    f"cannot index {_jqtype(base)} with \"{n.b}\"")
    elif kind == "index":
        for p, base in _path_eval(n.a, v, env):
            for idx in _eval(n.b, v, env):
                if base is None:
                    yield p + [idx], None
                elif isinstance(base, list) and isinstance(idx, int):
                    i = idx if idx >= 0 else len(base) + idx
                    yield p + [i], (base[i] if 0 <= i < len(base)
                                    else None)
                elif isinstance(base, dict) and isinstance(idx, str):
                    yield p + [idx], base.get(idx)
                else:
                    raise JQError(f"cannot index {_jqtype(base)} "
                                  f"with {_jqtype(idx)}")
    elif kind == "iterate":
        for p, base in _path_eval(n.a, v, env):
            if isinstance(base, list):
                for i, x in enumerate(base):
                    yield p + [i], x
            elif isinstance(base, dict):
                for k, x in base.items():
                    yield p + [k], x
            else:
                raise JQError(f"cannot iterate over {_jqtype(base)}")
    elif kind == "pipe":
        for p1, v1 in _path_eval(n.a, v, env):
            for p2, v2 in _path_eval(n.b, v1, env):
                yield p1 + p2, v2
    elif kind == "comma":
        yield from _path_eval(n.a, v, env)
        yield from _path_eval(n.b, v, env)
    elif kind == "try":
        try:
            yield from list(_path_eval(n.a, v, env))
        except JQError:
            pass
    elif kind == "if":
        def _ifp(i: int) -> Iterator[tuple[list, Any]]:
            if i == len(n.a):
                if n.b is None:
                    yield [], v
                else:
                    yield from _path_eval(n.b, v, env)
                return
            cond, then = n.a[i]
            for c in _eval(cond, v, env):
                if _truthy(c):
                    yield from _path_eval(then, v, env)
                else:
                    yield from _ifp(i + 1)
        yield from _ifp(0)
    elif kind == "call" and n.a == "select":
        for cond in _eval(n.b[0], v, env):
            if _truthy(cond):
                yield [], v
    elif kind == "call" and n.a == "empty":
        return
    elif kind == "call" and n.a == "getpath":
        for p in _eval(n.b[0], v, env):
            if not isinstance(p, list):
                raise JQError("getpath: path must be an array")
            yield list(p), _getpath(v, p)
    else:
        raise JQError(f"invalid path expression ({kind})")


def _getpath(v: Any, path: list) -> Any:
    for k in path:
        if v is None:
            return None
        if isinstance(v, dict) and isinstance(k, str):
            v = v.get(k)
        elif isinstance(v, list) and isinstance(k, int):
            i = k if k >= 0 else len(v) + k
            v = v[i] if 0 <= i < len(v) else None
        else:
            raise JQError(
                f"cannot index {_jqtype(v)} with {_jqtype(k)}")
    return v


def _setpath(v: Any, path: list, new: Any) -> Any:
    if not path:
        return new
    k = path[0]
    if isinstance(k, str):
        if v is None:
            v = {}
        if not isinstance(v, dict):
            raise JQError(f"cannot index {_jqtype(v)} with \"{k}\"")
        out = dict(v)
        out[k] = _setpath(out.get(k), path[1:], new)
        return out
    if isinstance(k, int):
        if v is None:
            v = []
        if not isinstance(v, list):
            raise JQError(f"cannot index {_jqtype(v)} with number")
        i = k if k >= 0 else len(v) + k
        if i < 0:
            raise JQError("out of bounds negative array index")
        out = list(v) + [None] * (i + 1 - len(v))
        out[i] = _setpath(out[i], path[1:], new)
        return out
    raise JQError(f"invalid path component {_jqtype(k)}")


def _delpath(v: Any, path: list) -> Any:
    if v is None or not path:
        return None if not path else v
    k = path[0]
    if len(path) == 1:
        if isinstance(v, dict) and isinstance(k, str):
            out = dict(v)
            out.pop(k, None)
            return out
        if isinstance(v, list) and isinstance(k, int):
            i = k if k >= 0 else len(v) + k
            out = list(v)
            if 0 <= i < len(out):
                del out[i]
            return out
        raise JQError(
            f"cannot delete {_jqtype(k)} key of {_jqtype(v)}")
    if isinstance(v, dict) and isinstance(k, str):
        if k not in v:
            return v
        out = dict(v)
        out[k] = _delpath(out[k], path[1:])
        return out
    if isinstance(v, list) and isinstance(k, int):
        i = k if k >= 0 else len(v) + k
        if not 0 <= i < len(v):
            return v
        out = list(v)
        out[i] = _delpath(out[i], path[1:])
        return out
    raise JQError(f"cannot index {_jqtype(v)} with {_jqtype(k)}")


def _delpaths(v: Any, paths: list[list]) -> Any:
    # longest-first so earlier deletions don't shift later indices
    for p in sorted(paths, key=lambda p: [_sort_key(x) for x in p],
                    reverse=True):
        v = _delpath(v, p)
    return v


def _assign(n: N, v: Any, env: dict[str, Any]) -> Iterator[Any]:
    lhs, rhs, op = n.a, n.b, n.c
    if op == "|=":
        out = v
        dels: list[list] = []
        for p, _ in _path_eval(lhs, v, env):
            cur = _getpath(out, p)
            upd = list(_eval(rhs, cur, env))
            if upd:
                out = _setpath(out, p, upd[0])
            else:
                dels.append(p)  # empty update deletes the path (jq1.6+)
        yield _delpaths(out, dels)
        return
    # = and op= evaluate the RHS against the ORIGINAL input; each RHS
    # value produces one output
    for rv in _eval(rhs, v, env):
        out = v
        for p, _ in _path_eval(lhs, v, env):
            if op == "=":
                out = _setpath(out, p, rv)
                continue
            cur = _getpath(out, p)
            if op == "+=":
                nv = _add(cur, rv)
            elif op == "//=":
                nv = cur if _truthy(cur) else rv
            else:
                x, y = _tonum(cur), _tonum(rv)
                if op == "-=":
                    nv = x - y
                elif op == "*=":
                    nv = x * y
                elif op == "/=":
                    if y == 0:
                        raise JQError("division by zero")
                    nv = x / y
                else:  # %=
                    if y == 0:
                        raise JQError("division by zero")
                    nv = int(x) % int(y)
            out = _setpath(out, p, nv)
        yield out


def _call(name: str, args: list[N], v: Any,
          env: dict[str, Any]) -> Iterator[Any]:
    funcs = env.get("__funcs__") or {}
    entry = funcs.get((name, len(args)))
    if entry is not None:
        yield from _call_userfunc(entry, args, v, env)
        return

    def one(i: int) -> Any:
        outs = list(_eval(args[i], v, env))
        if len(outs) != 1:
            raise JQError(f"{name}: argument must yield one value")
        return outs[0]

    if name == "select":
        for cond in _eval(args[0], v, env):
            if _truthy(cond):
                yield v
    elif name == "empty":
        return
    elif name == "map":
        if not isinstance(v, list):
            raise JQError(f"cannot map over {_jqtype(v)}")
        yield [o for x in v for o in _eval(args[0], x, env)]
    elif name == "sort_by":
        if not isinstance(v, list):
            raise JQError(f"cannot sort {_jqtype(v)}")
        yield sorted(v, key=lambda x: _single(args[0], x, env))
    elif name == "length":
        if v is None:
            yield 0
        elif isinstance(v, bool):
            raise JQError("boolean has no length")
        elif isinstance(v, (int, float)):
            yield abs(v)
        else:
            yield len(v)
    elif name == "keys":
        if isinstance(v, dict):
            yield sorted(v.keys())
        elif isinstance(v, list):
            yield list(range(len(v)))
        else:
            raise JQError(f"{_jqtype(v)} has no keys")
    elif name == "has":
        k = one(0)
        if isinstance(v, dict):
            yield k in v
        elif isinstance(v, list):
            yield isinstance(k, int) and 0 <= k < len(v)
        else:
            raise JQError(f"cannot check has() on {_jqtype(v)}")
    elif name == "add":
        acc = None
        for x in (v if isinstance(v, list) else ()):
            acc = _add(acc, x)
        yield acc
    elif name == "join":
        sep = one(0)
        if not isinstance(v, list):
            raise JQError(f"cannot join {_jqtype(v)}")
        yield sep.join("" if x is None else
                       (x if isinstance(x, str) else _dumps(x)) for x in v)
    elif name == "split":
        # jq: splitting the EMPTY string yields [] (Python's
        # "".split(sep) yields [""]) — r8 jq-fuzzer find #3
        s = _as_str(v, name)
        yield s.split(one(0)) if s else []
    elif name == "test":
        fl = _re_flags(one(1) if len(args) == 2 else "", name)
        yield re.search(_jq_regex(one(0), name), _as_str(v, name),
                        fl[0]) is not None
    elif name == "startswith":
        yield _as_str(v, name).startswith(one(0))
    elif name == "endswith":
        yield _as_str(v, name).endswith(one(0))
    elif name == "ltrimstr":
        p = one(0)
        yield v[len(p):] if isinstance(v, str) and v.startswith(p) else v
    elif name == "rtrimstr":
        p = one(0)
        yield v[:-len(p)] if isinstance(v, str) and p and v.endswith(p) else v
    elif name == "ascii_downcase":
        yield _as_str(v, name).lower()
    elif name == "ascii_upcase":
        yield _as_str(v, name).upper()
    elif name == "tostring":
        yield v if isinstance(v, str) else _dumps(v)
    elif name == "tonumber":
        yield _tonum(v)
    elif name == "type":
        yield _jqtype(v)
    elif name == "not":
        yield not _truthy(v)
    elif name == "sort":
        if not isinstance(v, list):
            raise JQError(f"cannot sort {_jqtype(v)}")
        yield sorted(v, key=_sort_key)
    elif name == "unique":
        if not isinstance(v, list):
            raise JQError(f"cannot unique {_jqtype(v)}")
        out: list[Any] = []
        for x in sorted(v, key=_sort_key):
            if not out or out[-1] != x:
                out.append(x)
        yield out
    elif name == "reverse":
        yield list(reversed(v))
    elif name == "first" and not args:
        yield v[0] if v else None
    elif name == "last" and not args:
        yield v[-1] if v else None
    elif name in ("min", "max"):
        if not isinstance(v, list):
            raise JQError(f"cannot {name} {_jqtype(v)}")
        yield None if not v else (min if name == "min" else max)(
            v, key=_sort_key)
    elif name == "flatten":
        out = []
        for x in v:
            out.extend(x if isinstance(x, list) else [x])
        yield out
    elif name == "range":
        if len(args) == 1:
            lo, hi, step = 0, _tonum(one(0)), 1
        elif len(args) == 2:
            lo, hi, step = _tonum(one(0)), _tonum(one(1)), 1
        else:
            lo, hi, step = (_tonum(one(0)), _tonum(one(1)),
                            _tonum(one(2)))
        if step == 0:
            return
        x = lo
        while (x < hi) if step > 0 else (x > hi):
            yield x
            x += step
    elif name == "limit":
        cap = int(one(0))
        for i, x in enumerate(_eval(args[1], v, env)):
            if i >= cap:
                break
            yield x
    elif name == "first" and len(args) == 1:
        for x in _eval(args[0], v, env):
            yield x
            break
    elif name == "last" and len(args) == 1:
        got, lastv = False, None
        for x in _eval(args[0], v, env):
            got, lastv = True, x
        if got:
            yield lastv
    elif name == "until":
        # def until(cond; update): first state where cond holds
        val = v
        for _ in range(1_000_000):
            if _truthy(_single(args[0], val, env)):
                yield val
                return
            val = _single(args[1], val, env)
        raise JQError("until: no fixpoint after 1e6 iterations")
    elif name == "while":
        # emits each state while cond holds
        val = v
        for _ in range(1_000_000):
            if not _truthy(_single(args[0], val, env)):
                return
            yield val
            val = _single(args[1], val, env)
        raise JQError("while: no fixpoint after 1e6 iterations")
    elif name == "recurse":
        # def recurse(f): def r: ., (f | r); r.  default f = .[]?
        def _rec(x: Any) -> Iterator[Any]:
            yield x
            if args:
                for c in _eval(args[0], x, env):
                    yield from _rec(c)
            elif isinstance(x, list):
                for c in x:
                    yield from _rec(c)
            elif isinstance(x, dict):
                for c in x.values():
                    yield from _rec(c)
        yield from _rec(v)
    elif name == "path":
        for p, _pv in _path_eval(args[0], v, env):
            yield p
    elif name == "getpath":
        p = one(0)
        if not isinstance(p, list):
            raise JQError("getpath: path must be an array")
        try:
            yield _getpath(v, p)
        except JQError:
            yield None
    elif name == "setpath":
        p = one(0)
        if not isinstance(p, list):
            raise JQError("setpath: path must be an array")
        yield _setpath(v, p, one(1))
    elif name == "delpaths":
        ps = one(0)
        if not isinstance(ps, list):
            raise JQError("delpaths: paths must be an array")
        yield _delpaths(v, [list(p) for p in ps])
    elif name == "del":
        # builtin.jq: def del(f): delpaths([path(f)]);  (r8 jq-fuzzer
        # find #6 — `del` was missing while delpaths existed)
        paths_ = [p for p, _pv in _path_eval(args[0], v, env)]
        yield _delpaths(v, paths_)
    elif name == "error":
        msg = one(0) if args else v
        raise JQError(msg if isinstance(msg, str) else _dumps(msg))
    elif name == "to_entries":
        if not isinstance(v, dict):
            raise JQError(f"to_entries over {_jqtype(v)}")
        yield [{"key": k, "value": x} for k, x in v.items()]
    elif name == "from_entries":
        if not isinstance(v, list):
            raise JQError(f"from_entries over {_jqtype(v)}")
        out = {}
        for e in v:
            if isinstance(e, dict):
                k = e.get("key", e.get("k", e.get("name",
                                                  e.get("Name"))))
                val = e.get("value", e.get("v"))
            else:
                k, val = e, None
            if not isinstance(k, str):
                k = _dumps(k) if not isinstance(k, (int, float)) \
                    else _tostr_num(k)
            out[k] = val
        yield out
    elif name == "with_entries":
        # def with_entries(f): to_entries | map(f) | from_entries
        if not isinstance(v, dict):
            raise JQError(f"with_entries over {_jqtype(v)}")
        out = {}
        for k, x in v.items():
            for e in _eval(args[0], {"key": k, "value": x}, env):
                out[e["key"]] = e.get("value")
        yield out
    elif name == "any" and not args:
        yield isinstance(v, list) and any(_truthy(x) for x in v)
    elif name == "all" and not args:
        yield (not isinstance(v, list)) or all(_truthy(x) for x in v)
    elif name == "any" and len(args) == 1:
        yield isinstance(v, list) and any(
            _truthy(o) for x in v for o in _eval(args[0], x, env))
    elif name == "all" and len(args) == 1:
        yield (not isinstance(v, list)) or all(
            _truthy(o) for x in v for o in _eval(args[0], x, env))
    elif name == "group_by":
        if not isinstance(v, list):
            raise JQError(f"cannot group {_jqtype(v)}")
        keyed = sorted(((_single(args[0], x, env), x) for x in v),
                       key=lambda kx: _sort_key(kx[0]))
        out, cur, curk = [], [], object()
        for k, x in keyed:
            if cur and k != curk:
                out.append(cur)
                cur = []
            curk = k
            cur.append(x)
        if cur:
            out.append(cur)
        yield out
    elif name == "unique_by":
        if not isinstance(v, list):
            raise JQError(f"cannot unique {_jqtype(v)}")
        seenk: list[Any] = []
        out = []
        for x in sorted(v, key=lambda x: _sort_key(
                _single(args[0], x, env))):
            k = _single(args[0], x, env)
            if not seenk or seenk[-1] != k:
                out.append(x)
                seenk.append(k)
        yield out
    elif name in ("min_by", "max_by"):
        if not isinstance(v, list):
            raise JQError(f"cannot {name} {_jqtype(v)}")
        if not v:
            yield None
        else:
            pick = min if name == "min_by" else max
            yield pick(v, key=lambda x: _sort_key(
                _single(args[0], x, env)))
    elif name == "contains":
        yield _contains(v, one(0))
    elif name == "tojson":
        yield _dumps(v)
    elif name == "fromjson":
        try:
            yield json.loads(_as_str(v, name))
        except json.JSONDecodeError as e:
            raise JQError(f"fromjson: {e}") from e
    elif name == "capture":
        # builtin.jq defines capture over match, so "g" STREAMS one
        # capture object per match (r9 fuzzer find — the first-match
        # version emitted [{}] where jq says [{}, {}])
        py, flags = _re_flags(one(1) if len(args) == 2 else "", name)
        rx = re.compile(_jq_regex(one(0), name), py)
        for mo in rx.finditer(_as_str(v, name)):
            yield {k: x for k, x in mo.groupdict().items()}
            if "g" not in flags:
                break
    elif name == "match":
        # jq manual "match(val)": emits MATCH OBJECTS — codepoint
        # offset/length (Python str indexing is codepoints too), the
        # matched string, and per-group captures with name/null and
        # offset -1 for non-participating groups.  "g" streams every
        # match; without it only the first emits.  builtin.jq defines
        # test/capture/scan/splits on top of this shape.
        py, flags = _re_flags(one(1) if len(args) == 2 else "", name)
        s = _as_str(v, name)
        rx = re.compile(_jq_regex(one(0), name), py)
        names = {i: nm for nm, i in rx.groupindex.items()}
        for mo in rx.finditer(s):
            caps = []
            for gi in range(1, rx.groups + 1):
                if mo.start(gi) == -1:
                    caps.append({"offset": -1, "length": 0,
                                 "string": None,
                                 "name": names.get(gi)})
                else:
                    caps.append({"offset": mo.start(gi),
                                 "length": mo.end(gi) - mo.start(gi),
                                 "string": mo.group(gi),
                                 "name": names.get(gi)})
            yield {"offset": mo.start(),
                   "length": mo.end() - mo.start(),
                   "string": mo.group(0), "captures": caps}
            if "g" not in flags:
                break
    elif name in ("sub", "gsub"):
        # replacement is a filter over the capture object — a plain
        # string literal is the common case, `"\(.name)"` references
        # named captures
        pat = re.compile(_jq_regex(one(0), name))
        src_s = _as_str(v, name)

        def _repl(mo: re.Match) -> str:
            cap = {k: x for k, x in mo.groupdict().items()}
            outs = list(_eval(args[1], cap, env))
            if not outs or not isinstance(outs[0], str):
                raise JQError(f"{name}: replacement must be a string")
            return outs[0]
        yield pat.sub(_repl, src_s, count=0 if name == "gsub" else 1)
    elif name == "floor":
        yield math.floor(_tonum(v))
    elif name == "ceil":
        yield math.ceil(_tonum(v))
    elif name == "fabs":
        yield abs(_tonum(v))
    elif name in ("numbers", "strings", "booleans", "arrays",
                  "objects", "nulls", "iterables", "scalars",
                  "values") and not args:
        t = _jqtype(v)
        ok = {"numbers": t == "number", "strings": t == "string",
              "booleans": t == "boolean", "arrays": t == "array",
              "objects": t == "object", "nulls": t == "null",
              "iterables": t in ("array", "object"),
              "scalars": t not in ("array", "object"),
              "values": t != "null"}[name]
        if ok:
            yield v
    elif name == "keys_unsorted":
        if not isinstance(v, dict):
            raise JQError(f"{_jqtype(v)} has no keys")
        yield list(v.keys())
    elif name in ("paths", "leaf_paths") and not args:
        # leaf_paths is builtin.jq `paths(scalars)`, and paths(f)
        # SELECTs on the truthiness of f's output — the leaf VALUE
        # itself — so null and false leaves are dropped (jq 1.6 and
        # gojq share this builtin-source quirk; r8 jq-fuzzer find #5)
        def walk(x: Any, p: list) -> Iterator[list]:
            if isinstance(x, dict):
                items: Any = x.items()
            elif isinstance(x, list):
                items = enumerate(x)
            else:
                return
            for k, child in items:
                cp = p + [k]
                if name == "paths" or (
                        not isinstance(child, (dict, list))
                        and child is not None and child is not False):
                    yield cp
                yield from walk(child, cp)
        yield from walk(v, [])
    elif name == "splits" and len(args) in (1, 2):
        # NOT re.split: Python interleaves CAPTURE GROUP text into
        # the result ('alpha' | splits("(?<g>[a-z]+)") gave
        # ["","alpha",""] where jq says ["",""]) — r9 fuzzer find.
        # jq splits on the match spans only.
        s = _as_str(v, "splits")
        for pat in _eval(args[0], v, env):
            py, _fl = _re_flags(
                _single(args[1], v, env) if len(args) > 1 else "",
                name)
            rx = re.compile(_jq_regex(pat, name), py)
            last = 0
            for mo in rx.finditer(s):
                yield s[last:mo.start()]
                last = mo.end()
            yield s[last:]
    elif name == "indices" and len(args) == 1:
        for needle in _eval(args[0], v, env):
            if isinstance(v, str) and isinstance(needle, str):
                if not needle:
                    yield []
                    continue
                out, i = [], v.find(needle)
                while i != -1:
                    out.append(i)
                    i = v.find(needle, i + 1)
                yield out
            elif isinstance(v, list) and isinstance(needle, list):
                yield [i for i in range(len(v) - len(needle) + 1)
                       if v[i:i + len(needle)] == needle]
            elif isinstance(v, list):
                yield [i for i, x in enumerate(v) if x == needle]
            elif v is None:
                yield None
            else:
                raise JQError("cannot get indices of "
                              f"{_jqtype(v)}")
    elif name == "explode":
        yield [ord(c) for c in _as_str(v, "explode")]
    elif name == "implode":
        if not isinstance(v, list):
            raise JQError("implode input must be an array")
        yield "".join(chr(int(c)) for c in v)
    elif name == "utf8bytelength":
        yield len(_as_str(v, "utf8bytelength").encode("utf-8"))
    elif name == "env" and not args:
        import os
        yield dict(os.environ)
    elif name == "isnan":
        yield isinstance(v, float) and math.isnan(v)
    elif name == "isinfinite":
        yield isinstance(v, float) and math.isinf(v)
    elif name == "infinite":
        yield math.inf
    elif name == "nan":
        yield math.nan
    elif name == "isnormal":
        yield (isinstance(v, (int, float))
               and not isinstance(v, bool)
               and v != 0 and math.isfinite(v))
    elif name == "now":
        import time as _time
        yield _time.time()
    elif name in ("todate", "todateiso8601"):
        import time as _time
        yield _time.strftime("%Y-%m-%dT%H:%M:%SZ",
                             _time.gmtime(int(_tonum(v))))
    elif name in ("fromdate", "fromdateiso8601"):
        import calendar
        import time as _time
        yield calendar.timegm(_time.strptime(
            _as_str(v, name), "%Y-%m-%dT%H:%M:%SZ"))
    elif name == "gmtime":
        yield _jq_gmtime(_tonum(v))
    elif name == "mktime":
        import calendar
        if not isinstance(v, list) or len(v) < 6:
            raise JQError("mktime requires a broken-down time array")
        yield calendar.timegm((int(v[0]), int(v[1]) + 1, int(v[2]),
                               int(v[3]), int(v[4]), int(v[5]),
                               0, 0, 0))
    elif name == "strftime" and len(args) == 1:
        import time as _time
        fmt = _as_str(_single(args[0], v, env), "strftime")
        bt = v if isinstance(v, list) else _jq_gmtime(_tonum(v))
        st = _time.struct_time((
            int(bt[0]), int(bt[1]) + 1, int(bt[2]), int(bt[3]),
            int(bt[4]), int(bt[5]), (int(bt[6]) - 1) % 7,
            int(bt[7]) + 1, 0))
        yield _time.strftime(fmt, st)
    elif name == "strptime" and len(args) == 1:
        import time as _time
        fmt = _as_str(_single(args[0], v, env), "strptime")
        st = _time.strptime(_as_str(v, "strptime"), fmt)
        yield [st.tm_year, st.tm_mon - 1, st.tm_mday, st.tm_hour,
               st.tm_min, float(st.tm_sec), (st.tm_wday + 1) % 7,
               st.tm_yday - 1]
    elif name == "date":
        import time as _time
        yield _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime())
    elif name == "abs":
        x = _tonum(v)
        yield abs(x)
    elif name == "halt_error":
        raise JQError(v if isinstance(v, str) else _dumps(v))
    else:
        raise JQCompileError(f"jq: unsupported function {name!r}")


def _jq_gmtime(epoch: float) -> list:
    """Broken-down UTC time, jq layout: [year, month 0-based, mday,
    hour, min, sec (fractional), wday 0=Sunday, yday 0-based]."""
    import time as _time
    st = _time.gmtime(int(epoch))
    return [st.tm_year, st.tm_mon - 1, st.tm_mday, st.tm_hour,
            st.tm_min, st.tm_sec + (epoch - int(epoch)),
            (st.tm_wday + 1) % 7, st.tm_yday - 1]


_FORMATS = {"text", "json", "html", "uri", "csv", "tsv", "sh",
            "base64", "base64d"}


def _format(name: str, x: Any) -> str:
    """jq @format strings (jq manual 'Format strings and escaping')."""
    import base64 as _b64
    if name == "text":
        return x if isinstance(x, str) else _dumps(x)
    if name == "json":
        return _dumps(x)
    if name == "html":
        s = _format("text", x)
        return (s.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace("'", "&#39;")
                .replace('"', "&quot;"))
    if name == "uri":
        from urllib.parse import quote
        return quote(_format("text", x), safe="")
    if name in ("csv", "tsv"):
        if not isinstance(x, list):
            raise JQError(f"@{name} input must be an array")
        cells = []
        for c in x:
            if c is None:
                cells.append("")
            elif isinstance(c, bool):
                cells.append("true" if c else "false")
            elif isinstance(c, (int, float)):
                cells.append(_tostr_num(c))
            elif isinstance(c, str):
                if name == "csv":
                    cells.append('"' + c.replace('"', '""') + '"')
                else:
                    cells.append(c.replace("\\", "\\\\")
                                 .replace("\t", "\\t")
                                 .replace("\n", "\\n")
                                 .replace("\r", "\\r"))
            else:
                raise JQError(f"@{name} cell cannot be "
                              f"{_jqtype(c)}")
        return ("," if name == "csv" else "\t").join(cells)
    if name == "sh":
        def q(s: Any) -> str:
            t = _format("text", s)
            return "'" + t.replace("'", "'\\''") + "'"
        if isinstance(x, list):
            return " ".join(q(c) for c in x)
        return q(x)
    if name == "base64":
        return _b64.b64encode(
            _format("text", x).encode("utf-8")).decode("ascii")
    if name == "base64d":
        s = _as_str(x, "@base64d")
        pad = s + "=" * (-len(s) % 4)
        return _b64.b64decode(pad).decode("utf-8", "replace")
    raise JQError(f"unknown format @{name}")


def _call_userfunc(entry, args: list[N], v: Any,
                   env: dict[str, Any]) -> Iterator[Any]:
    """Invoke a `def`-defined function. Value params (`$x`) bind each
    value of the argument evaluated in the CALLER's env/input (streams
    fan out); filter params bind the argument as a zero-arg closure
    over the caller's env, evaluated lazily at each use site."""
    params, body, def_env = entry

    def bind(i: int, acc_env: dict[str, Any]) -> Iterator[Any]:
        if i == len(params):
            yield from _eval(body, v, acc_env)
            return
        param, argnode = params[i], args[i]
        if param.startswith("$"):
            for val in _eval(argnode, v, env):
                yield from bind(i + 1, {**acc_env, param[1:]: val})
        else:
            f2 = dict(acc_env.get("__funcs__") or {})
            f2[(param, 0)] = ((), N("closure", (argnode, env)), acc_env)
            yield from bind(i + 1, {**acc_env, "__funcs__": f2})

    yield from bind(0, dict(def_env))


def _contains(a: Any, b: Any) -> bool:
    """jq `contains`: objects ⊇ recursively, arrays elementwise-any,
    strings substring, scalars equality."""
    if isinstance(a, dict) and isinstance(b, dict):
        return all(k in a and _contains(a[k], x) for k, x in b.items())
    if isinstance(a, list) and isinstance(b, list):
        return all(any(_contains(x, y) for x in a) for y in b)
    if isinstance(a, str) and isinstance(b, str):
        return b in a
    return a == b


def _tostr_num(x: float | int) -> str:
    return str(int(x)) if float(x).is_integer() else str(x)


def _as_str(v: Any, fn: str) -> str:
    if not isinstance(v, str):
        raise JQError(f"{fn}: input must be a string, got {_jqtype(v)}")
    return v


def _single(node: N, v: Any, env: dict[str, Any]) -> Any:
    outs = list(_eval(node, v, env))
    return outs[0] if outs else None


def _sort_key(v: Any):
    """jq's total value order (manual "Comparison"): null < false <
    true < numbers < strings < arrays < objects; arrays compare
    lexicographically; objects compare by SORTED KEY LIST first, then
    values in that key order (r8 jq-fuzzer: {"a":1,"c":0} <
    {"a":1,"b":9} is FALSE because [a,c] > [a,b])."""
    order = {"null": 0, "boolean": 1, "number": 2, "string": 3,
             "array": 4, "object": 5}
    t = _jqtype(v)
    if t == "object":
        ks = sorted(v.keys())
        return (5, ks, [_sort_key(v[k]) for k in ks])
    if t == "array":
        return (4, [_sort_key(x) for x in v])
    if t == "null":
        return (0, 0)
    if t == "boolean":
        return (1, int(v))
    return (order[t], v)


def _dumps(v: Any) -> str:
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False,
                      sort_keys=False)


def jq_eval_text(prog: N, text: str | None, raw: bool = False,
                 metadata: dict | None = None) -> str | None:
    """Run a parsed program against one message. Returns the new content
    (JSON text), or None when the query emitted no value (= filter the
    message, jq.go summary). Raises JQError on runtime failure."""
    if raw:
        value: Any = text
    else:
        try:
            value = json.loads(text) if text is not None else None
        except (json.JSONDecodeError, TypeError) as e:
            raise JQError(f"invalid JSON content: {e}") from e
    env = {"metadata": metadata or {}}  # $ENV resolves lazily
    outs = list(_eval(prog, value, env))
    if not outs:
        return None
    return _dumps(outs[0] if len(outs) == 1 else outs)


# ---------------------------------------------------------------- static

def _static_segments(prog: N) -> list[tuple[str, object]] | None:
    """`.a.b[0].c` → [("field","a"),("field","b"),("index",0),
    ("field","c")]; None when the program needs the interpreter.
    `?`-suffixed paths are NOT static: jq's try yields *nothing* on a
    traversal error (= message filtered), which only the interpreter
    tier models."""
    segs: list[tuple[str, object]] = []
    n = prog
    while True:
        if n.kind == "field":
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n.b):
                return None
            segs.append(("field", n.b))
            n = n.a
        elif n.kind == "index" and n.b.kind == "lit" \
                and isinstance(n.b.a, int) and n.b.a >= 0:
            segs.append(("index", n.b.a))
            n = n.a
        elif n.kind == "identity":
            return list(reversed(segs))
        else:
            return None


def jq_static_path(prog: N) -> str | None:
    """Variant path text for a pure path program (`$.a[0].b`), else
    None."""
    segs = _static_segments(prog)
    if segs is None:
        return None
    path = "$"
    for kind, val in segs:
        path += f".{val}" if kind == "field" else f"[{val}]"
    return path


# ---------------------------------------------------------------- operator

def jq_transform(df: DataFrame, query: str,
                 raw: bool = False) -> DataFrame:
    """The `jq` processor as a DataFrame transform.

    Pure path queries stay JVM-side (variant extraction, codegen); general
    queries run the interpreter per message through
    `datamodel.map_messages`. Reference semantics (jq.go): no value →
    row filtered; multiple values → array; runtime error → content
    unchanged + `_error` set.
    """
    prog = parse_jq(query)
    segs = None if raw else _static_segments(prog)
    if segs is not None:
        # JVM tier, full gojq error semantics: a missing key yields
        # null, but TRAVERSING a non-object (".p.p" on {"p":0}) is an
        # error → content unchanged + error flag, exactly like the
        # interpreter tier (divergence originally caught by the
        # tier-equivalence property test).
        v = F.try_parse_json(F.col(CONTENT_COL))
        err = v.isNull()  # invalid JSON or NULL content
        prefix = "$"
        for kind, val in segs:
            sch = F.schema_of_variant(
                F.try_variant_get(v, prefix, "variant"))
            ok = (sch.isNull() | (sch == "VOID") |
                  sch.startswith("OBJECT" if kind == "field" else "ARRAY"))
            err = err | ~ok
            prefix += f".{val}" if kind == "field" else f"[{val}]"
        out = F.coalesce(
            F.to_json(F.try_variant_get(v, prefix, "variant")),
            F.lit("null"))
        # one projection: both columns evaluate against the ORIGINAL
        # content (chained withColumn would re-resolve `err` on the
        # rewritten one)
        return df.withColumns({
            CONTENT_COL: F.when(err, F.col(CONTENT_COL)).otherwise(out),
            ERROR_COL: flag_error(df, F.when(err, F.lit(
                f"jq: cannot index value in path {prefix}")))})

    def one(content, meta, error):
        try:
            res = jq_eval_text(prog, content, raw=raw, metadata=meta)
        except JQError as e:
            return [(content, meta, f"jq: {e}")]
        return [] if res is None else [(res, meta, None)]

    return map_messages(df, one)
