"""v3 structured conditions (reference lib/condition/*.go) compiled to
boolean Columns.

The v4 check form is a Bloblang query string and compiles through
``stream.compile_condition``; this module covers the older structured
YAML schema a migrating v3 config still carries::

    condition:
      and:
        - text: {operator: contains, arg: "urgent"}
        - not: {metadata: {operator: exists, key: ignored}}

Every leaf compiles to a declarative boolean Column over the message
shape (content/meta/_error), so Catalyst pushes the predicate into the
scan exactly like the Bloblang path.  Three condition kinds are
batch-scoped in the reference (``all``/``any`` check every part of the
message; ``count``/``bounds_check(min|max_parts)`` need the batch
ordinal/length) and compile to window expressions over ``batch_id`` —
those cannot sit directly inside ``df.filter``; use
``apply_condition_filter`` which projects the bool first (one extra
projection, no shuffle: the window partitions by the batch key the data
already carries).

Reference: lib/condition/{text,number,metadata,json,jmespath,
check_field,check_interpolation,and,or,not,xor,all,any,static,count,
processor_failed,bounds_check,resource}.go
"""

from __future__ import annotations

import json as _json
from typing import Any, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from benthos_spark.datamodel import (
    BATCH_COL, CONTENT_COL, ERROR_COL, META_COL, PART_INDEX_COL,
)


class ConditionError(ValueError):
    pass


_IPV4_RE = r"^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$"
_IPV6_RE = r"^(([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}|([0-9a-fA-F]{1,4}:){1,7}:|([0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}|::([0-9a-fA-F]{1,4}:){0,6}[0-9a-fA-F]{1,4}|::)$"


def _text_op(col: Column, op: str, arg: Any) -> Column:
    """lib/condition/text.go:264-291 operator table."""
    s = F.lit("" if arg is None else str(arg))
    low = F.lower(col)
    slow = F.lit(str(arg).lower() if arg is not None else "")
    if op == "equals_cs":
        return col == s
    if op == "equals":
        return low == slow
    if op == "contains_cs":
        return col.contains(s)
    if op == "contains":
        return low.contains(slow)
    if op in ("contains_any", "contains_any_cs"):
        items = arg if isinstance(arg, (list, tuple)) else [arg]
        cols = ([col.contains(F.lit(str(a))) for a in items]
                if op.endswith("_cs") else
                [low.contains(F.lit(str(a).lower())) for a in items])
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out
    if op == "prefix_cs":
        return col.startswith(s)
    if op == "prefix":
        return low.startswith(slow)
    if op == "suffix_cs":
        return col.endswith(s)
    if op == "suffix":
        return low.endswith(slow)
    if op == "regexp_partial":
        return col.rlike(str(arg))
    if op == "regexp_exact":
        # text.go regexp_exact: the pattern must match the whole part
        return col.rlike(f"^(?:{arg})$")
    if op == "enum":
        items = arg if isinstance(arg, (list, tuple)) else [arg]
        return col.isin([str(a) for a in items])
    if op == "is":
        kind = str(arg)
        if kind == "ipv4":
            return col.rlike(_IPV4_RE)
        if kind == "ipv6":
            return col.rlike(_IPV6_RE)
        if kind == "ip":
            return col.rlike(_IPV4_RE) | col.rlike(_IPV6_RE)
        raise ConditionError(f"text `is` operator argument {kind!r} "
                             "not recognised (ip|ipv4|ipv6)")
    raise ConditionError(f"text condition operator {op!r} not recognised")


def _metadata_op(meta: Column, spec: Mapping[str, Any]) -> Column:
    """lib/condition/metadata.go:206-222 operator table (over meta[key])."""
    op = str(spec.get("operator", "equals_cs"))
    key = str(spec.get("key", ""))
    arg = spec.get("arg")
    v = F.element_at(meta, key)
    if op == "exists":
        return v.isNotNull()
    if op == "equals":
        return F.lower(v) == F.lit(str(arg).lower())
    if op == "equals_cs":
        return v == F.lit(str(arg))
    if op == "enum":
        items = arg if isinstance(arg, (list, tuple)) else [arg]
        return v.isin([str(a) for a in items])
    if op == "greater_than":
        return v.try_cast("double") > F.lit(float(arg))
    if op == "less_than":
        return v.try_cast("double") < F.lit(float(arg))
    if op == "has_prefix":
        return v.startswith(F.lit(str(arg)))
    if op == "regexp_partial":
        return v.rlike(str(arg))
    if op == "regexp_exact":
        return v.rlike(f"^(?:{arg})$")
    raise ConditionError(f"metadata condition operator {op!r} not recognised")


def _json_value(content: Column, path: str) -> Column:
    """Raw JSON text at a gabs dot-path within the payload ('' = root)."""
    jp = "$" if not path else "$." + path
    return F.get_json_object(content, jp)


def _json_eq(raw: Column, arg: Any) -> Column:
    """Compare extracted JSON text to a config arg with number
    normalization (json.go:84-100 clears json.Number to float64)."""
    if isinstance(arg, bool):
        return raw == F.lit("true" if arg else "false")
    if isinstance(arg, (int, float)):
        return raw.try_cast("double") == F.lit(float(arg))
    if arg is None:
        return raw == F.lit("null")
    if isinstance(arg, (dict, list)):
        # VARIANT equality isn't orderable — anchor both sides on the
        # arg's schema and compare structs (field-name keyed, so key
        # order is irrelevant), plus a key-set check so extra fields in
        # the payload don't false-match
        lit_json = _json.dumps(arg, separators=(",", ":"))
        schema = F.schema_of_json(F.lit(lit_json))
        eq = (F.from_json(raw, schema)
              == F.from_json(F.lit(lit_json), schema))
        if isinstance(arg, dict):
            eq = eq & (F.array_sort(F.json_object_keys(raw))
                       == F.array_sort(F.json_object_keys(
                           F.lit(lit_json))))
        return eq
    # string arg: get_json_object strips quotes from string leaves
    return raw == F.lit(str(arg))


def _json_op(content: Column, spec: Mapping[str, Any]) -> Column:
    """lib/condition/json.go:143-147 (exists | equals | contains)."""
    op = str(spec.get("operator", "exists"))
    path = str(spec.get("path", ""))
    arg = spec.get("arg")
    raw = _json_value(content, path)
    if op == "exists":
        return raw.isNotNull()
    if op == "equals":
        return _json_eq(raw, arg)
    if op == "contains":
        # json.go:102-110: walk the array children at path, equality per
        # element.  Elements re-extracted as raw JSON text per index is
        # not expressible statically; compare against the exploded
        # string form for scalars (documented scalar-arg subset).
        arr = F.from_json(raw, "array<string>")
        if isinstance(arg, (int, float)) and not isinstance(arg, bool):
            return F.exists(
                arr, lambda x: x.try_cast("double") == F.lit(float(arg)))
        if isinstance(arg, bool):
            return F.exists(arr, lambda x: x == F.lit(
                "true" if arg else "false"))
        return F.exists(arr, lambda x: x == F.lit(str(arg)))
    raise ConditionError(f"json condition operator {op!r} not recognised")


def _jmespath_cond(content: Column, spec: Mapping[str, Any]) -> Column:
    """lib/condition/jmespath.go:155-188 — query must yield boolean
    true.  No Spark primitive; Arrow-batched boolean kernel."""
    import jmespath as _jp
    from pyspark.sql.functions import pandas_udf

    compiled = _jp.compile(str(spec.get("query", "")))

    @pandas_udf("boolean")
    def op(payloads):
        def one(p):
            if p is None:
                return False
            try:
                return compiled.search(_json.loads(p)) is True
            except Exception:
                return False
        return payloads.map(one)

    return op(content)


def compile_condition_spec(spec: Any, content: Column | None = None,
                           ctx: Mapping[str, Any] | None = None) -> Column:
    """Structured v3 condition → boolean Column.

    ``spec`` is either a Bloblang string (v4 check form) or a one-key
    dict ``{kind: config}``.  ``content`` overrides the payload column
    (used by check_field / check_interpolation recursion).
    """
    from benthos_spark.stream import compile_condition

    if isinstance(spec, str):
        return compile_condition(spec)
    if not isinstance(spec, Mapping):
        raise ConditionError(f"condition spec not recognised: {spec!r}")
    body = dict(spec)
    kind = body.pop("type", None)
    if kind is None:
        if len(body) != 1:
            raise ConditionError(
                f"condition must have exactly one type key, got "
                f"{sorted(body)}")
        kind, conf = next(iter(body.items()))
    else:
        kind = str(kind)
        conf = body.get(kind, body)
    c = content if content is not None else F.col(CONTENT_COL)

    def recurse(sub, content_col=None):
        return compile_condition_spec(
            sub, content=content_col if content_col is not None else c,
            ctx=ctx)

    if kind == "bloblang":
        return compile_condition(str(conf))
    if kind == "text":
        return _text_op(c, str(conf.get("operator", "equals_cs")),
                        conf.get("arg"))
    if kind == "number":
        op = str(conf.get("operator", "equals"))
        arg = F.lit(float(conf.get("arg", 0)))
        n = c.try_cast("double")
        if op == "equals":
            return n == arg
        if op == "greater_than":
            return n > arg
        if op == "less_than":
            return n < arg
        raise ConditionError(f"number condition operator {op!r} "
                             "not recognised")
    if kind == "metadata":
        return _metadata_op(F.col(META_COL), conf)
    if kind == "json":
        return _json_op(c, conf)
    if kind == "jmespath":
        return _jmespath_cond(c, conf)
    if kind == "check_field":
        path = str(conf.get("path", ""))
        return recurse(conf.get("condition"),
                       content_col=_json_value(c, path))
    if kind == "check_interpolation":
        from benthos_spark.bloblang.field import interpolate
        return recurse(conf.get("condition"),
                       content_col=interpolate(str(conf.get("value", ""))))
    if kind == "static":
        return F.lit(bool(conf))
    if kind == "json_schema":
        # json_schema condition (lib/condition/json_schema.go): true
        # when the payload validates; same Draft7 kernel as the
        # processor form, boolean instead of the error column
        import json as _json

        from benthos_spark.operators.parsing import jsonschema_error_col
        schema_doc = conf.get("schema")
        if not schema_doc and conf.get("schema_path"):
            with open(str(conf["schema_path"])) as fh:
                schema_doc = fh.read()
        return jsonschema_error_col(F.col("content"), (
            _json.loads(schema_doc) if isinstance(schema_doc, str)
            else (schema_doc or {}))).isNull()
    if kind == "processor_failed":
        return F.col(ERROR_COL).isNotNull()
    if kind == "not":
        sub = conf.get("condition", conf) if isinstance(conf, Mapping) \
            else conf
        return ~recurse(sub)
    if kind in ("and", "or", "xor"):
        subs = [recurse(s) for s in conf]
        if not subs:
            raise ConditionError(f"{kind} condition requires children")
        if kind == "xor":
            total = subs[0].cast("int")
            for s in subs[1:]:
                total = total + s.cast("int")
            return total == F.lit(1)
        out = subs[0]
        for s in subs[1:]:
            out = (out & s) if kind == "and" else (out | s)
        return out
    if kind in ("all", "any"):
        # all.go/any.go: the child runs against every part of the batch;
        # window bool fold over batch_id (batch-scoped — filter via
        # apply_condition_filter)
        child = recurse(conf).cast("boolean")
        w = Window.partitionBy(BATCH_COL)
        return (F.min(child).over(w) if kind == "all"
                else F.max(child).over(w))
    if kind == "count":
        # count.go:99-110: rolling counter, false (and reset) on every
        # Nth check.  Deterministic pinned-order ordinal form — exact
        # single-threaded, deterministic (not arrival-ordered) when
        # distributed; same caveat as bloblang count().
        n = int(conf.get("arg", 100))
        w = Window.orderBy(BATCH_COL, PART_INDEX_COL)
        return (F.row_number().over(w) % F.lit(n)) != F.lit(0)
    if kind == "bounds_check":
        checks = []
        if "max_part_size" in conf:
            checks.append(F.length(c) <= F.lit(int(conf["max_part_size"])))
        if "min_part_size" in conf:
            checks.append(F.length(c) >= F.lit(int(conf["min_part_size"])))
        if "max_parts" in conf or "min_parts" in conf:
            w = Window.partitionBy(BATCH_COL)
            parts = F.count(F.lit(1)).over(w)
            if "max_parts" in conf:
                checks.append(parts <= F.lit(int(conf["max_parts"])))
            if "min_parts" in conf:
                checks.append(parts >= F.lit(int(conf["min_parts"])))
        if not checks:
            return F.lit(True)
        out = checks[0]
        for ch in checks[1:]:
            out = out & ch
        return out
    if kind == "resource":
        reg = (ctx or {}).get("condition_resources") or {}
        name = str(conf)
        if name not in reg:
            raise ConditionError(
                f"resource condition {name!r} not registered "
                "(resources.conditions)")
        return recurse(reg[name])
    raise ConditionError(f"condition type {kind!r} not recognised "
                         "(lib/condition registry)")


_WINDOWED_KINDS = ("all", "any", "count", "bounds_check")


def _needs_projection(spec: Any) -> bool:
    """True when the compiled Column contains window expressions
    (batch-scoped kinds), which cannot appear directly in filter()."""
    if isinstance(spec, str):
        return False
    if not isinstance(spec, Mapping):
        return False
    for k, v in spec.items():
        if k in _WINDOWED_KINDS:
            if k == "bounds_check" and not (
                    isinstance(v, Mapping)
                    and ("max_parts" in v or "min_parts" in v)):
                continue
            return True
        if isinstance(v, (Mapping, str)) and _needs_projection(v):
            return True
        if isinstance(v, (list, tuple)):
            if any(_needs_projection(s) for s in v):
                return True
    return False


def apply_condition_filter(df: DataFrame, spec: Any,
                           ctx: Mapping[str, Any] | None = None,
                           negate: bool = False) -> DataFrame:
    """Filter rows by a structured condition, projecting first when the
    condition is batch-scoped (window exprs can't sit inside filter)."""
    cond = compile_condition_spec(spec, ctx=ctx)
    if negate:
        cond = ~cond
    if _needs_projection(spec):
        tmp = "__cond__"
        return (df.withColumn(tmp, cond)
                  .filter(F.col(tmp)).drop(tmp))
    return df.filter(cond)
