"""The fail-flag rule (FlagErr, lib/processor/util.go): a step that
fails a part replaces the part's old `_error` with its own; a part the
step passes keeps the old one.  Every writer of `_error` goes through
`datamodel.flag_error`; this table runs each of them on one failing
and one passing row, both already flagged "earlier"."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from benthos_spark.datamodel import row_payload, with_error

_SCHEMA = "id INT, content STRING, _error STRING"


def _sql(tmp_path):
    import sqlite3
    db = str(tmp_path / "flag.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (v TEXT CHECK (v != 'bad'))")
    con.commit()
    con.close()
    return db


def _bloblang(df, _tmp):
    from benthos_spark.bloblang import map_text
    return map_text(df, "root.id = this.id\nroot.n = this.content.number()",
                    keep=("_error",))


def _jsonschema(df, _tmp):
    from benthos_spark.operators.parsing import jsonschema_validate
    return jsonschema_validate(df, F.col("content"), {"type": "object"})


def _jq_jvm(df, _tmp):
    from benthos_spark.operators.jq import jq_transform
    return jq_transform(df, ".p.p")


def _text_unquote(df, _tmp):
    from benthos_spark.operators.legacy_doc import text_stage
    return text_stage(df, {"operator": "unquote"})


def _http(df, _tmp):
    from benthos_spark.operators.http_enrich import http_enrich
    return http_enrich(df, F.col("content"), retries=0, timeout_s=1.0)


def _lambda(df, _tmp):
    from benthos_spark.operators.http_enrich import lambda_map
    from benthos_spark.testkit import fake_lambda_client_factory
    return lambda_map(df, "fn", client_factory=fake_lambda_client_factory)


def _redis(df, _tmp):
    from benthos_spark.operators.kv_store import redis_map
    from benthos_spark.testkit import fake_redis_client_factory
    return redis_map(df, "incrby", F.lit("hits"),
                     client_factory=fake_redis_client_factory)


def _mongodb(df, _tmp):
    from benthos_spark.operators.kv_store import mongodb_map
    from benthos_spark.testkit import fake_mongo_client_factory
    return mongodb_map(df, "find-one", "db", "people",
                       filter_col=F.col("content"),
                       client_factory=fake_mongo_client_factory)


def _dynamodb(df, _tmp):
    from benthos_spark.operators.kv_store import dynamodb_partiql_map

    def factory():  # local, so cloudpickle ships it by value
        class Ddb:
            def execute_statement(self, Statement, Parameters=None):
                if Parameters == ["bad"]:
                    raise RuntimeError("throttled")
                return {"Items": []}
        return Ddb()

    return dynamodb_partiql_map(df, "SELECT * FROM t WHERE k = ?",
                                args_cols=[F.col("content")],
                                client_factory=factory)


def _sql_insert(df, tmp):
    from benthos_spark.operators.sql_exec import sql_query
    return sql_query(df, _sql(tmp), "INSERT INTO t VALUES (?)",
                     args_cols=[F.col("content")], result_codec="none")


# writer, failing content, passing content, text of the new error
_WRITERS = {
    "with_error": (lambda df, _tmp: with_error(
        df, F.col("content") == "bad", "boom"), "bad", "ok", "boom"),
    "bloblang_compiled": (_bloblang, "zz", "3", ".number()"),
    "jsonschema": (_jsonschema, "5", "{}", "is not of type 'object'"),
    "jq_jvm": (_jq_jvm, '{"p": 0}', '{"p": {"p": 1}}', "cannot index"),
    "map_messages_text": (_text_unquote, "5", '"x"', "invalid syntax"),
    "http": (_http, "nope://x", "data:,ok", "http request failed"),
    "aws_lambda": (_lambda, '{"boom": true}', '{"n": 1}', "lambda error 500"),
    "redis": (_redis, "x", "5", "redis incrby"),
    "mongodb": (_mongodb, '{"_id": 99}', '{"_id": 1}',
                "mongodb find-one: no documents"),
    "dynamodb_partiql": (_dynamodb, "bad", "ok", "dynamodb_partiql: throttled"),
    "sql": (_sql_insert, "bad", "ok", "sql: CHECK constraint failed"),
}


@pytest.mark.parametrize("name", sorted(_WRITERS))
def test_new_error_replaces_old_and_pass_keeps_it(spark, tmp_path, name):
    step, bad, good, text = _WRITERS[name]
    df = spark.createDataFrame([(1, bad, "earlier"), (2, good, "earlier")],
                               _SCHEMA).coalesce(1)
    got = {r.id: r._error for r in step(df, tmp_path).collect()}
    assert got[1] != "earlier" and text in got[1], got
    assert got[2] == "earlier", got


def test_failed_sql_keeps_alias_column(spark, tmp_path):
    """json_array writes the result over `content`; a failed query must
    leave the payload as it was, not NULL it."""
    from benthos_spark.operators.sql_exec import sql_query
    db = _sql(tmp_path)
    df = spark.createDataFrame([(1, "payload", "earlier"), (2, "p2", None)],
                               _SCHEMA)
    out = sql_query(df, db, "SELECT v FROM missing WHERE v = ?",
                    args_cols=[F.col("content")], result_codec="json_array")
    got = sorted((r.id, r.content, r._error) for r in out.collect())
    assert [(i, c) for i, c, _ in got] == [(1, "payload"), (2, "p2")]
    assert all(e.startswith("sql: ") for *_, e in got)


def test_http_alias_existing_column(spark):
    """An existing `alias` column is written in place (once in the
    schema) and a failed request leaves its value unchanged."""
    from benthos_spark.operators.http_enrich import http_enrich
    df = spark.createDataFrame(
        [(1, "nope://x", "old"), (2, "data:,fresh", "old")],
        "id INT, url STRING, response STRING")
    out = http_enrich(df, F.col("url"), retries=0, timeout_s=1.0)
    assert out.columns == ["id", "url", "response", "_error"]
    got = {r.id: (r.response, r._error) for r in out.collect()}
    assert got[1][0] == "old" and "http request failed" in got[1][1]
    assert got[2] == ("fresh", None)


def test_text_unquote_non_string_json_flags_part(spark):
    """strconv.Unquote fails on anything but a quoted string: the part
    keeps its content and is flagged (before, `5` crashed the task)."""
    from benthos_spark.operators.legacy_doc import text_stage
    contents = ["5", "{}", "null", "plain", '"ok"']
    df = spark.createDataFrame([(i, c, None) for i, c in enumerate(contents)],
                               _SCHEMA)
    out = text_stage(df, {"operator": "unquote"})
    got = {r.id: (r.content, r._error) for r in out.collect()}
    for i, c in enumerate(contents[:-1]):
        assert got[i] == (c, "invalid syntax")
    assert got[4] == ("ok", None)


def test_row_payload(spark):
    """`content` when the frame has it, else the row as JSON without
    the `_error` flag."""
    df = spark.createDataFrame([(1, "x", "boom")], "id INT, v STRING, "
                               "_error STRING")
    [r] = df.select(row_payload(df).alias("p")).collect()
    assert json.loads(r.p) == {"id": 1, "v": "x"}
    msgs = spark.createDataFrame([(1, "body", "boom")], _SCHEMA)
    [r] = msgs.select(row_payload(msgs).alias("p")).collect()
    assert r.p == "body"
