"""Structured-extraction processors: grok, parse_log, jmespath,
jsonschema.

Reference: lib/processor/{grok.go:24, parse_log.go:20,
jmespath.go:19, jsonschema.go:22}.  grok/parse_log compile to
regexp_extract bundles (JVM codegen — the hot path stays in Tungsten);
jmespath/jsonschema have no Spark primitive and use Arrow-batched
pandas UDFs (the documented slow path, SURVEY §2.6).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from benthos_spark.datamodel import ERROR_COL, flag_error, map_messages

# ---------------------------------------------------------------- grok

# The standard public grok base patterns (the subset the reference's
# vjeantet/grok library ships); %{NAME:field} compiles to a named
# regex group bundle evaluated with regexp_extract per field.
GROK_PATTERNS = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "HOSTNAME": r"[A-Za-z0-9][A-Za-z0-9\-._]*",
    "USER": r"[A-Za-z0-9._-]+",
    "TIMESTAMP_ISO8601":
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%_\-]*)+",
    "URIPATHPARAM": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%_\-]*)+(?:\?\S*)?",
    "SYSLOGTIMESTAMP": r"[A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}",
    # composite web-log patterns (vjeantet/grok pattern base)
    "IPV4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "EMAILADDRESS": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+",
    "MONTH": (r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?"
              r"|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?"
              r"|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b"),
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "QS": r'"(?:[^"\\]|\\.)*"',
    "COMMONAPACHELOG": (
        r'%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} '
        r'\[%{HTTPDATE:timestamp}\] "(?:%{WORD:verb} '
        r'%{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?'
        r'|%{DATA:rawrequest})" %{NUMBER:response} '
        r'(?:%{NUMBER:bytes}|-)'),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")
_GROK_REF3 = re.compile(r"%\{(\w+)(?::([\w.@\[\]]+))?(?::(\w+))?\}")


def grok_build(expression: str, definitions: dict | None = None):
    """Full grok compile (lib/processor/grok.go via vjeantet/grok):
    recursive pattern expansion, custom definitions, named captures
    with optional `:int`/`:float` type suffixes and dot-path targets.
    Returns (compiled_regex, [(group, field_path, type), ...])."""
    defs = dict(GROK_PATTERNS)
    defs.update(definitions or {})
    fields: list[tuple[str, str, str | None]] = []
    counter = [0]

    def expand(expr: str, depth: int) -> str:
        if depth > 50:
            raise ValueError("grok pattern recursion too deep")

        def sub(m):
            pat, field, typ = m.group(1), m.group(2), m.group(3)
            if pat not in defs:
                raise ValueError(f"unknown grok pattern %{{{pat}}}")
            inner = expand(defs[pat], depth + 1)
            if field:
                g = f"g{counter[0]}"
                counter[0] += 1
                fields.append((g, field, typ))
                return f"(?P<{g}>{inner})"
            return f"(?:{inner})"

        return _GROK_REF3.sub(sub, expr)

    return re.compile(expand(expression, 0)), fields


def grok_parse_doc(line: str, patterns: list[str],
                   definitions: dict | None = None,
                   remove_empty: bool = True) -> dict | None:
    """Run grok patterns in order against a line → nested document of
    the named captures, or None when nothing matches (the reference's
    ErrNoMatch).  Typed captures cast; dot-path names nest."""
    for pat in patterns:
        rx, fields = grok_build(pat, definitions)
        m = rx.search(line)
        if m is None:
            continue
        doc: dict = {}
        for g, field, typ in fields:
            v = m.group(g)
            if v is None or (remove_empty and v == ""):
                continue
            if typ == "int":
                try:
                    v = int(v)
                except ValueError:
                    pass
            elif typ == "float":
                try:
                    v = float(v)
                except ValueError:
                    pass
            cur = doc
            segs = field.split(".")
            for seg in segs[:-1]:
                nxt = cur.get(seg)
                if not isinstance(nxt, dict):
                    nxt = {}
                    cur[seg] = nxt
                cur = nxt
            cur[segs[-1]] = v
        return doc
    return None


def grok_compile(expression: str) -> tuple[str, list[str]]:
    """Compile a grok expression to (regex-with-groups, field names).
    Unnamed pattern refs match without capturing, like the reference."""
    fields: list[str] = []
    out: list[str] = []
    pos = 0
    for m in _GROK_REF.finditer(expression):
        out.append(re.escape(expression[pos:m.start()]))
        pat, name = m.group(1), m.group(2)
        if pat not in GROK_PATTERNS:
            raise ValueError(f"unknown grok pattern %{{{pat}}}")
        if name:
            fields.append(name)
            out.append(f"({GROK_PATTERNS[pat]})")
        else:
            out.append(f"(?:{GROK_PATTERNS[pat]})")
        pos = m.end()
    out.append(re.escape(expression[pos:]))
    return "".join(out), fields


def grok(df: DataFrame, source: Column, expression: str,
         prefix: str = "") -> DataFrame:
    """`grok` processor (lib/processor/grok.go:24): extract named
    fields into columns.  One regex, N regexp_extract group pulls —
    Catalyst CSEs the shared pattern; stays in whole-stage codegen."""
    pattern, fields = grok_compile(expression)
    cols = [F.regexp_extract(source, pattern, i + 1).alias(prefix + name)
            for i, name in enumerate(fields)]
    return df.select("*", *cols)


# ---------------------------------------------------------------- syslog

# RFC3164: "<PRI>Mmm dd HH:MM:SS host tag[pid]: msg"
_RFC3164 = (r"^(?:<(\d+)>)?([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
            r"(\S+) ([^:\[\s]+)(?:\[(\d+)\])?: (.*)$")


def parse_syslog_rfc3164(df: DataFrame, source: Column,
                         alias: str = "log") -> DataFrame:
    """`parse_log` with format syslog_rfc3164 (lib/processor/
    parse_log.go:244): line → struct<priority,timestamp,hostname,
    appname,procid,message> (field names mirror the reference's
    output document)."""
    out = F.struct(
        F.regexp_extract(source, _RFC3164, 1).try_cast("int").alias("priority"),
        F.regexp_extract(source, _RFC3164, 2).alias("timestamp"),
        F.regexp_extract(source, _RFC3164, 3).alias("hostname"),
        F.regexp_extract(source, _RFC3164, 4).alias("appname"),
        F.regexp_extract(source, _RFC3164, 5).try_cast("int").alias("procid"),
        F.regexp_extract(source, _RFC3164, 6).alias("message"),
    )
    return df.withColumn(alias, out)


# RFC5424: "<PRI>VER TIMESTAMP HOST APP PROCID MSGID [SD] MSG"
_RFC5424 = (r"^<(\d+)>(\d+) (\S+) (\S+) (\S+) (\S+) (\S+) "
            r"(?:(\[.*?\])|-)\s*(.*)$")


def parse_syslog_rfc5424(df: DataFrame, source: Column,
                         alias: str = "log") -> DataFrame:
    """`parse_log` with format syslog_rfc5424 (parse_log.go:29-31)."""
    out = F.struct(
        F.regexp_extract(source, _RFC5424, 1).try_cast("int").alias("priority"),
        F.regexp_extract(source, _RFC5424, 2).try_cast("int").alias("version"),
        F.regexp_extract(source, _RFC5424, 3).alias("timestamp"),
        F.regexp_extract(source, _RFC5424, 4).alias("hostname"),
        F.regexp_extract(source, _RFC5424, 5).alias("appname"),
        F.regexp_extract(source, _RFC5424, 6).alias("procid"),
        F.regexp_extract(source, _RFC5424, 7).alias("msgid"),
        F.regexp_extract(source, _RFC5424, 8).alias("structured_data"),
        F.regexp_extract(source, _RFC5424, 9).alias("message"),
    )
    return df.withColumn(alias, out)


_SD_ELEM = re.compile(r"\[([^\s\]=]+)((?:\s+[^=\s\]]+=\"[^\"]*\")*)\]")
_SD_PARAM = re.compile(r"([^=\s\]]+)=\"([^\"]*)\"")
_RFC5424_DOC = re.compile(
    r"^<(\d{1,3})>(\d{1,2}) (\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(-|(?:\[.*\]))(?: (.*))?$", re.S)
_RFC3164_DOC = re.compile(
    r"^<(\d{1,3})>([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
    r"(\S+) ([^:\[\s]+)(?:\[(\d+)\])?: ?(.*)$", re.S)


def _rfc3339_nano(s: str) -> str:
    """Re-format an RFC3339 timestamp the way Go's RFC3339Nano does
    (trailing fraction zeros trimmed)."""
    import datetime as _dt
    try:
        dt = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return s
    out = dt.strftime("%Y-%m-%dT%H:%M:%S")
    if dt.microsecond:
        out += f".{dt.microsecond:06d}".rstrip("0")
    off = dt.utcoffset()
    if off is None or int(off.total_seconds()) == 0:
        return out + "Z"
    total = int(off.total_seconds())
    sign = "-" if total < 0 else "+"
    hh, mm = divmod(abs(total) // 60, 60)
    return f"{out}{sign}{hh:02d}:{mm:02d}"


def parse_syslog_doc(line: str, fmt: str) -> dict | None:
    """Parse one syslog line into the reference's document shape
    (parse_log.go resMap; go-syslog field set): nil fields omitted,
    facility/severity derived from priority, RFC3339Nano timestamps.
    Returns None when the line doesn't parse."""
    if fmt == "syslog_rfc5424":
        m = _RFC5424_DOC.match(line)
        if m is None:
            return None
        pri = int(m.group(1))
        doc: dict = {"priority": pri, "facility": pri // 8,
                     "severity": pri % 8, "version": int(m.group(2))}
        for i, key in ((3, "timestamp"), (4, "hostname"),
                       (5, "appname"), (6, "procid"), (7, "msgid")):
            v = m.group(i)
            if v != "-":
                doc[key] = _rfc3339_nano(v) if key == "timestamp" else v
        sd = m.group(8)
        if sd != "-":
            elems: dict = {}
            for em in _SD_ELEM.finditer(sd):
                elems[em.group(1)] = dict(
                    _SD_PARAM.findall(em.group(2)))
            doc["structureddata"] = elems
        if m.group(9) is not None:
            doc["message"] = m.group(9)
        return doc
    if fmt == "syslog_rfc3164":
        m = _RFC3164_DOC.match(line)
        if m is None:
            return None
        import datetime as _dt
        pri = int(m.group(1))
        doc = {"priority": pri, "facility": pri // 8,
               "severity": pri % 8, "hostname": m.group(3),
               "appname": m.group(4), "message": m.group(6)}
        if m.group(5):
            doc["procid"] = m.group(5)
        # rfc3164 timestamps carry no year: go-syslog stamps the
        # current year, UTC
        try:
            dt = _dt.datetime.strptime(
                f"{_dt.datetime.now().year} {m.group(2).replace('  ', ' ')}",
                "%Y %b %d %H:%M:%S")
            doc["timestamp"] = dt.strftime("%Y-%m-%dT%H:%M:%SZ")
        except ValueError:
            pass
        return doc
    raise ValueError(f"parse_log format {fmt!r}: "
                     "use syslog_rfc5424|syslog_rfc3164")


# ---------------------------------------------------------------- jmespath

def jmespath_transform(df: DataFrame, source: Column, expression: str,
                       alias: str = "result") -> DataFrame:
    """`jmespath` processor (lib/processor/jmespath.go:19): evaluate a
    JMESPath expression against each JSON payload.

    No Spark primitive exists; runs as an Arrow-batched pandas UDF
    (≈10-100× a row-at-a-time UDF, still the slow path vs Columns —
    prefer the Bloblang compiler when the query is expressible)."""
    import jmespath as _jp
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    compiled = _jp.compile(expression)

    _ = pd  # imported for executors; annotation-free signature below
    # (module-level `from __future__ import annotations` turns hints into
    # strings pandas_udf can't resolve at decoration time)

    @pandas_udf("string")
    def op(payloads):
        import json

        def one(p):
            if p is None:
                return None
            try:
                out = compiled.search(json.loads(p))
                return None if out is None else json.dumps(
                    out, separators=(",", ":"), sort_keys=True)
            except (ValueError, TypeError):
                return None
        return payloads.map(one)

    return df.withColumn(alias, op(source))


# ---------------------------------------------------------------- jsonschema

def jsonschema_first_error(schema: dict):
    """The one Draft 7 validator behind the `json_schema` processor,
    condition and Bloblang method: payload text → its first validation
    error (errors ordered by JSON path), "document is null" for a NULL
    payload, "invalid JSON: ..." for unparseable text, or None when it
    validates."""
    import json

    import jsonschema as _js

    validator = _js.Draft7Validator(schema)

    def first_error(payload):
        if payload is None:
            return "document is null"
        try:
            doc = json.loads(payload)
        except ValueError as e:
            return f"invalid JSON: {e}"
        errs = sorted(validator.iter_errors(doc), key=lambda e: e.json_path)
        return errs[0].message if errs else None

    return first_error


def jsonschema_error_col(source: Column, schema: dict) -> Column:
    """`jsonschema_first_error` of each payload in `source`, as a
    string Column (Arrow-batched; jsonschema is Python-only)."""
    from pyspark.sql.functions import pandas_udf

    first_error = jsonschema_first_error(schema)

    @pandas_udf("string")
    def op(payloads):
        return payloads.map(first_error)

    return op(source)


def jsonschema_validate(df: DataFrame, source: Column,
                        schema: dict) -> DataFrame:
    """`json_schema` processor (lib/processor/jsonschema.go:22):
    validate payloads; a failure flags the row's `_error`
    (`datamodel.flag_error`) instead of dropping it."""
    return df.withColumn(
        ERROR_COL, flag_error(df, jsonschema_error_col(source, schema)))


# ---------------------------------------------------------------- xml

def _xml_elem_to_obj(elem):
    """mxj-compatible element → value (internal/xml/package.go:23 rules,
    documented in lib/processor/xml.go:26-60): attributes prefixed '-',
    simple-element text under '#text' when attributes exist, repeated
    tags collapse to arrays; comments/PIs are skipped by ElementTree."""
    obj = {}
    for k, v in elem.attrib.items():
        obj["-" + k] = v
    text = (elem.text or "").strip()
    children = list(elem)
    if not children:
        if not obj:
            return text
        if text:
            obj["#text"] = text
        return obj
    for ch in children:
        if not isinstance(ch.tag, str):   # Comment/PI nodes
            continue
        val = _xml_elem_to_obj(ch)
        if ch.tag in obj:
            prev = obj[ch.tag]
            if isinstance(prev, list):
                prev.append(val)
            else:
                obj[ch.tag] = [prev, val]
        else:
            obj[ch.tag] = val
    if text:
        obj["#text"] = text
    return obj


_XML_UNDEF_ENTITY = re.compile(
    r"&(?!(?:lt|gt|amp|quot|apos|#\d+|#x[0-9a-fA-F]+);)(\w+;)")


def _xml_tolerant(p: str) -> str:
    """Go's encoding/xml passes undefined entities (&ndash; etc.)
    through as literal text; ElementTree rejects them — escape the
    ampersand so the entity survives verbatim."""
    return _XML_UNDEF_ENTITY.sub(r"&amp;\1", p)


def _xml_to_json_text(p: str) -> str:
    """Schemaless XML text → mxj-rule JSON text; raises
    ElementTree.ParseError."""
    import json
    import xml.etree.ElementTree as ET

    root = ET.fromstring(_xml_tolerant(p))
    return json.dumps({root.tag: _xml_elem_to_obj(root)},
                      separators=(",", ":"), sort_keys=True,
                      ensure_ascii=False)


def xml_text_to_json_col(source: Column) -> Column:
    """Schemaless XML → mxj-rule JSON text as a Column (the
    `.parse_xml()` no-schema method form; parse failures → NULL)."""
    import xml.etree.ElementTree as ET

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def op(payloads):
        def one(p):
            try:
                return None if p is None else _xml_to_json_text(p)
            except ET.ParseError:
                return None
        return payloads.map(one)

    return op(source)


def xml_to_json(df: DataFrame) -> DataFrame:
    """`xml` processor, operator `to_json` (lib/processor/xml.go:113):
    schemaless XML `content` → JSON text, per message through
    `datamodel.map_messages`.  (The schema-declared fast path is
    bloblang `.parse_xml(schema)` → native from_xml; this operator is
    for documents with no declared schema.)  Parse failures set
    `_error`; content is left unchanged."""
    import xml.etree.ElementTree as ET

    def one(content, meta, error):
        try:
            return [(None if content is None
                     else _xml_to_json_text(content), meta, None)]
        except ET.ParseError as e:
            return [(content, meta, f"xml: {e}")]

    return map_messages(df, one)
