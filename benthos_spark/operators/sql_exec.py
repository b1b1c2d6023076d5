"""`sql` processor (lib/processor/sql.go:28): run a prepared query per
message; `result_codec: json_array` replaces the payload with the
result rows, `none` leaves the message untouched (write-side use).

Spark-first guidance, in order of preference:

1. Key-lookup SELECTs → don't use this at all: load the table once
   (JDBC/read) and broadcast-join (operators.joins.cache_lookup_join).
   Per-row queries against a database from 1000 executors is a DDoS.
2. Bulk writes → `df.write.jdbc` / foreachBatch MERGE.
3. Genuinely per-row statements (the reference's semantics, kept
   here) → this operator: `datamodel.map_calls`, exactly one execution
   per row, ONE connection and one transaction per partition (commit
   at partition end — the same at-least-once-on-retry contract as the
   reference's transactions).  A failed statement flags the row's
   `_error` (`datamodel.flag_error`: the new error replaces an older
   one) and leaves its `alias` column as it was.

The in-container driver is stdlib `sqlite3` (file DSN); the query uses
the REFERENCE dialect's placeholder style (lib/processor/sql.go:148-156:
`?` for mysql/clickhouse/sqlite, `$1..$n` for postgres, `@p1..@pN` for
mssql) fed from `args_cols`, mirroring the reference's `args`
interpolation list.  prepare_query() translates that style into the
Python client's DBAPI paramstyle (psycopg2/MySQLdb expect %s), with
$N/@pN repetition and reordering honored.  clickhouse/mysql/postgres/
mssql need their client installed on executors — `register_driver()`
is the one swap point (see README "SQL dialects"); contract doubles in
tests/test_sql_dialects.py pin the placeholder-binding behavior each
client will see.
"""

from __future__ import annotations

import json
import re
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import Column, DataFrame

from benthos_spark.datamodel import map_calls

# Reference dialect → the placeholder style its queries are written in
# (lib/processor/sql.go:148-156: mysql/clickhouse use ?, postgres $N,
# mssql @pN) and the DBAPI paramstyle the usual Python client expects
# (psycopg2/MySQLdb are 'format' (%s), sqlite3/pyodbc are 'qmark').
_DIALECTS: dict[str, dict] = {
    "sqlite": {"placeholder": "qmark", "paramstyle": "qmark"},
    "mysql": {"placeholder": "qmark", "paramstyle": "format"},
    "clickhouse": {"placeholder": "qmark", "paramstyle": "format"},
    "postgres": {"placeholder": "dollar", "paramstyle": "format"},
    "mssql": {"placeholder": "at", "paramstyle": "qmark"},
}

_DRIVER_FACTORIES: dict[str, Callable[[str], object]] = {}


def register_driver(name: str, connect: Callable[[str], object],
                    paramstyle: str | None = None,
                    placeholder: str | None = None) -> None:
    """Plug a DBAPI connect factory for `name` (the production swap
    the module docstring promises — psycopg2, MySQLdb, clickhouse
    driver, pyodbc — or a contract double in tests).  `paramstyle`
    overrides the client's expected style ('qmark' → ?, 'format' →
    %s); `placeholder` overrides the dialect's query style ('qmark',
    'dollar' for $N, 'at' for @pN)."""
    _DRIVER_FACTORIES[name] = connect
    d = _DIALECTS.setdefault(
        name, {"placeholder": "qmark", "paramstyle": "qmark"})
    if paramstyle is not None:
        d["paramstyle"] = paramstyle
    if placeholder is not None:
        d["placeholder"] = placeholder


def _connect(driver: str, dsn: str):
    if driver == "sqlite":
        import sqlite3
        con = sqlite3.connect(dsn, timeout=60.0)
        return con
    raise NotImplementedError(
        f"sql driver {driver!r}: install the client package on executors "
        "and register_driver(); for key-lookup SELECTs prefer a JDBC "
        "read + broadcast join (operators.joins.cache_lookup_join)")


# Regions placeholder rewriting must never touch: single-quoted
# literals ('' escape), double-quoted identifiers, Postgres
# dollar-quoted strings ($$..$$ / $tag$..$tag$ — the empty-alternation
# tag makes the backreference work for the bare $$ form), and -- / /**/
# comments.  A $N or ? inside any of these is literal text.
_SQL_SKIP = re.compile(
    r"'(?:[^']|'')*'"
    r'|"(?:[^"]|"")*"'
    r"|\$(?P<tag>[A-Za-z_][A-Za-z_0-9]*|)\$.*?\$(?P=tag)\$"
    r"|--[^\n]*"
    r"|/\*.*?\*/",
    re.DOTALL)
_DOLLAR = re.compile(r"\$(\d+)")
_ATP = re.compile(r"@p(\d+)", re.IGNORECASE)


def _sql_chunks(query: str):
    """Yield (is_code, text) — is_code=False for quoted/comment regions
    that pass through verbatim (modulo client %-escaping)."""
    pos = 0
    for m in _SQL_SKIP.finditer(query):
        if m.start() > pos:
            yield True, query[pos:m.start()]
        yield False, m.group(0)
        pos = m.end()
    if pos < len(query):
        yield True, query[pos:]


def prepare_query(query: str, driver: str) -> tuple[str, list[int]]:
    """Translate the reference dialect's placeholder style into the
    Python client's paramstyle.

    Returns (client_query, order): `order[i]` is the 0-based index into
    the reference `args` list for the i-th client placeholder — $N/@pN
    styles may repeat and reorder args ($2 … $1 … $1), qmark is always
    positional.  Quoted literals, dollar-quoted strings, quoted
    identifiers, and comments pass through untouched.  For 'format'
    clients (psycopg2/MySQLdb %-process the WHOLE query, quoted text
    included) every literal '%' is escaped to '%%' so LIKE 'a%' and
    modulo expressions survive.  When no translation is needed (qmark
    query, qmark client — sqlite), order is None and the args tuple
    passes through unchanged, so the client still sees a count
    mismatch as an error."""
    d = _DIALECTS.get(driver, {"placeholder": "qmark",
                               "paramstyle": "qmark"})
    if d["placeholder"] == "qmark" and d["paramstyle"] == "qmark":
        return query, None
    fmt = d["paramstyle"] == "format"
    mark = "?" if d["paramstyle"] == "qmark" else "%s"
    esc = (lambda s: s.replace("%", "%%")) if fmt else (lambda s: s)
    order: list[int] = []
    out: list[str] = []
    for is_code, chunk in _sql_chunks(query):
        if not is_code:
            out.append(esc(chunk))
            continue
        if d["placeholder"] == "qmark":
            parts = chunk.split("?")
            for j, p in enumerate(parts):
                out.append(esc(p))
                if j < len(parts) - 1:
                    order.append(len(order))
                    out.append(mark)
        else:
            pat = _DOLLAR if d["placeholder"] == "dollar" else _ATP
            pos = 0
            for mt in pat.finditer(chunk):
                out.append(esc(chunk[pos:mt.start()]))
                order.append(int(mt.group(1)) - 1)
                out.append(mark)
                pos = mt.end()
            out.append(esc(chunk[pos:]))
    return "".join(out), order


@contextmanager
def _transaction(connect, driver: str, dsn: str):
    """A partition's cursor: one connection, committed at the end."""
    con = connect(dsn) if connect is not None else _connect(driver, dsn)
    try:
        yield con.cursor()
        con.commit()
    finally:
        con.close()


def sql_query(df: DataFrame, dsn: str, query: str,
              args_cols: list[Column] | None = None,
              result_codec: str = "json_array",
              driver: str = "sqlite",
              alias: str = "content") -> DataFrame:
    """Execute `query` once per row with `args_cols` as positional
    parameters.  `json_array` puts the result rows (array of objects,
    keyed by column name) into `alias`; `none` passes rows through.
    Failures set `_error` and never abort the partition."""
    if result_codec not in ("none", "json_array"):
        raise ValueError(f"result_codec {result_codec!r}: none|json_array")
    client_query, arg_order = prepare_query(query, driver)
    # resolve a registered factory NOW (driver side): the closure ships
    # it to the Python workers, where the module registry is fresh
    connect = _DRIVER_FACTORIES.get(driver)

    def call(cur, *vals):
        cur.execute(client_query, vals if arg_order is None
                    else tuple(vals[j] for j in arg_order))
        if result_codec == "json_array":
            cols = [d[0] for d in cur.description or []]
            rows = cur.fetchall() if cols else []
            return json.dumps([dict(zip(cols, r)) for r in rows])

    return map_calls(df, list(args_cols or []), call,
                     client=lambda: _transaction(connect, driver, dsn),
                     alias=alias if result_codec == "json_array" else None,
                     error=lambda e: f"sql: {e}")
