"""The message data model: Benthos parts as DataFrame rows.

Reference model (SURVEY §1.1): a *Message* is an ordered batch of
*parts*; each part is a raw byte payload + string→string metadata + a
lazily parsed JSON view (lib/types/message.go:40-80,
lib/message/part.go:26-30).  Here a part is one row:

    batch_id    BIGINT             -- batch membership
    part_index  INT                -- order within the batch
    content     STRING             -- raw payload (UTF-8; BinaryType for
                                      genuinely binary payloads)
    meta        MAP<STRING,STRING> -- flat metadata (lib/types/message.go:18)
    _error      STRING             -- NULL unless a processor flagged the
                                      part failed (metadata key
                                      `benthos_processing_failed`,
                                      lib/types/message.go:12)

Typed/relational DataFrames (parquet tables) are first-class too — the
engine's operators work on either shape; the message shape is only
required by batch-aware operators (batch_index/from_all/archive/...).

Fail-flag rule (FlagErr, lib/processor/util.go, sets the one metadata
key): a step that fails a part writes its error to `_error`, replacing
any older one; a part the step passes keeps its old `_error`, and its
content is kept either way.  `flag_error` is the one place an old and
a new error meet.  Every writer goes through it: `with_error`, compiled
Bloblang mappings (within one mapping the first failing statement's
error is the new one, as in the interpreter), the `json_schema`
processor, the jq JVM tier, `map_messages` (the content-doctrine
processors: json, text, metadata, number, grok, parse_log, unarchive,
interpreted bloblang, awk, jq, xml) and `map_calls` (the per-row client
processors: http, aws_lambda, redis, mongodb, dynamodb_partiql, sql).
A writer adds `_error` as NULL to a frame that lacked it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ERROR_COL = "_error"
META_COL = "meta"
CONTENT_COL = "content"
BATCH_COL = "batch_id"
PART_INDEX_COL = "part_index"
# the kernels' output column for each row's new error, before flag_error
_NEW_ERROR = "__new_error"

MESSAGE_SCHEMA = T.StructType([
    T.StructField(BATCH_COL, T.LongType(), False),
    T.StructField(PART_INDEX_COL, T.IntegerType(), False),
    T.StructField(CONTENT_COL, T.StringType(), True),
    T.StructField(META_COL, T.MapType(T.StringType(), T.StringType()), True),
    T.StructField(ERROR_COL, T.StringType(), True),
])


def to_messages(df: DataFrame, content: Column | str,
                batch_id: Column | str | None = None,
                part_index: Column | str | None = None,
                meta: Column | None = None) -> DataFrame:
    """Wrap an arbitrary DataFrame into the message shape.

    ``content`` is typically ``F.to_json(F.struct(*df.columns))`` for
    relational rows, mirroring how Benthos sources emit JSON payloads.
    """
    c = F.col(content) if isinstance(content, str) else content
    b = (F.col(batch_id) if isinstance(batch_id, str) else batch_id)
    p = (F.col(part_index) if isinstance(part_index, str) else part_index)
    return df.select(
        (b if b is not None else F.lit(0)).cast("long").alias(BATCH_COL),
        (p if p is not None else F.lit(0)).cast("int").alias(PART_INDEX_COL),
        c.cast("string").alias(CONTENT_COL),
        (meta if meta is not None
         else F.create_map().cast("map<string,string>")).alias(META_COL),
        F.lit(None).cast("string").alias(ERROR_COL),
    )


def rows_to_messages(spark, parts: list[dict]) -> DataFrame:
    """Build a message DataFrame from test fixtures:
    ``[{"content": ..., "meta": {...}, "batch_id": n}, ...]``
    (mirrors the reference test-case input shape,
    lib/service/test/case.go:16-19)."""
    rows = []
    by_batch: dict[int, int] = {}
    for part in parts:
        b = int(part.get("batch_id", 0))
        idx = by_batch.get(b, 0)
        by_batch[b] = idx + 1
        rows.append((b, idx, part.get("content"), dict(part.get("meta") or {}),
                     part.get("_error")))
    from benthos_spark.operators.literals import values_or_pickled
    return values_or_pickled(spark, rows, MESSAGE_SCHEMA)


def meta_get(key: str) -> Column:
    """``meta("key")`` — reference internal/bloblang/query/functions.go:449."""
    return F.col(META_COL).getItem(key)


def meta_set(df: DataFrame, key: str, value: Column) -> DataFrame:
    """``meta key = expr`` assignment (mapping/assignment.go:71)."""
    return df.withColumn(
        META_COL,
        F.map_concat(
            F.map_filter(F.col(META_COL), lambda k, _: k != F.lit(key)),
            F.create_map(F.lit(key), value.cast("string")),
        ),
    )


def flag_error(df: DataFrame, error: Column) -> Column:
    """`_error` of ``df``'s rows after a step whose error for a row is
    ``error`` (NULL where the step passed): the new error replaces the
    old one, a passing row keeps its old `_error` (FlagErr)."""
    new = error.cast("string")
    return F.coalesce(new, F.col(ERROR_COL)) if ERROR_COL in df.columns \
        else new


def with_error(df: DataFrame, cond: Column, message: Column | str) -> DataFrame:
    """Flag the rows where ``cond`` holds failed, without dropping them;
    their `message` replaces an older error (`flag_error`)."""
    msg = F.lit(message) if isinstance(message, str) else message
    return df.withColumn(ERROR_COL, flag_error(df, F.when(cond, msg)))


def row_payload(df: DataFrame, content: str = CONTENT_COL) -> Column:
    """A row's payload: its ``content`` column, else the row as a JSON
    object.  `_error` is left out: the flag is metadata, not data."""
    if content in df.columns:
        return F.col(content)
    return F.to_json(F.struct(*[F.col(c) for c in df.columns
                                if c != ERROR_COL]))


def errored() -> Column:
    """``errored()`` — functions.go:298."""
    return F.col(ERROR_COL).isNotNull()


def map_messages(df: DataFrame, fn, *, whole_batches: bool = False
                 ) -> DataFrame:
    """Run ``fn`` once per part (row) of ``df``, Arrow-batched.

    ``fn(content, meta, error)`` gets the part's `content`, its `meta`
    as a fresh dict (``{}`` when the frame has no `meta` column) and
    its `_error`, and returns a list of ``(content, meta, error)``:
    ``[]`` drops the part, one item replaces it, several split it (the
    outputs' `part_index` becomes 0..n-1).  Each output's error is the
    part's new error, or None to keep the old one.  Every other column
    passes through; `meta` is written back only when the frame has it;
    the error goes through `flag_error`.  The kernel catches nothing: a
    caller turns its own failures into error strings.

    With ``whole_batches`` the parts of one `batch_id` are processed
    together, in `part_index` order, and ``fn`` also gets ``batch`` (a
    list of ``{"content", "meta", "error"}`` dicts, one per part) and
    ``part_index`` (the part's position in it)."""
    has_meta = META_COL in df.columns
    has_err = ERROR_COL in df.columns
    has_index = PART_INDEX_COL in df.columns
    schema = _with_new_error(df.schema.fields)

    def run(pdf):
        n = len(pdf)
        contents = pdf[CONTENT_COL].tolist()
        metas = ([dict(m) if m is not None else {} for m in pdf[META_COL]]
                 if has_meta else [{} for _ in range(n)])
        errors = pdf[ERROR_COL].tolist() if has_err else [None] * n
        if whole_batches:
            batch = [{"content": c, "meta": m, "error": e}
                     for c, m, e in zip(contents, metas, errors)]
        take, out_c, out_m, out_e, out_i = [], [], [], [], []
        reshaped = split = False
        for i, (c, m, e) in enumerate(zip(contents, metas, errors)):
            outs = (fn(c, m, e, batch=batch, part_index=i)
                    if whole_batches else fn(c, m, e))
            if len(outs) != 1:
                reshaped = True
                split = split or len(outs) > 1
            for j, (c2, m2, e2) in enumerate(outs):
                take.append(i)
                out_c.append(c2)
                out_m.append(m2)
                out_e.append(e2)
                out_i.append(j if len(outs) > 1 else None)
        out = pdf.take(take) if reshaped else pdf
        if not take:  # assigning [] would retype the map columns
            return out.assign(**{_NEW_ERROR: None})
        out[CONTENT_COL] = out_c
        out[_NEW_ERROR] = out_e
        if has_meta:
            out[META_COL] = out_m
        if split and has_index:
            out[PART_INDEX_COL] = [p if j is None else j for j, p
                                   in zip(out_i, out[PART_INDEX_COL])]
        return out

    if whole_batches:
        def grouped(pdf):
            return run(pdf.sort_values(PART_INDEX_COL, kind="stable")
                       if has_index else pdf)
        return _flag_new_errors(
            df.groupBy(BATCH_COL).applyInPandas(grouped, schema=schema))

    def batches(pdfs):
        for pdf in pdfs:
            yield run(pdf)

    return _flag_new_errors(df.mapInPandas(batches, schema=schema))


def map_calls(df: DataFrame, args: list[Column], call, *, client,
              alias: str | None, error) -> DataFrame:
    """Run ``call(c, *values)`` exactly once per row of ``df``,
    Arrow-batched: ``c`` is the partition's client and ``values`` are
    the row's ``args`` (a NULL arrives as None).

    ``client()`` makes one client per partition; a client that is a
    context manager is entered around the partition, so it can commit
    and close at partition end.  ``call`` returns the row's result,
    written as a string to the ``alias`` column (none when ``alias`` is
    None), or raises: ``error(exc)`` is then the row's new error
    (`flag_error`), and the row keeps the ``alias`` value it had.
    Every other column passes through."""
    from contextlib import nullcontext

    if alias is not None and alias in df.columns:
        df = df.withColumn(alias, F.col(alias).cast("string"))
    fields = list(df.schema.fields)
    if alias is not None and alias not in df.columns:
        fields.append(T.StructField(alias, T.StringType()))
    names = [f"__arg{i}" for i in range(len(args))]
    work = df.select("*", *[c.alias(n) for c, n in zip(args, names)])

    def run(pdfs):
        c = client()
        with c if hasattr(c, "__enter__") else nullcontext(c) as cl:
            for pdf in pdfs:
                n = len(pdf)
                values = [[None if isinstance(v, float) and v != v else v
                           for v in pdf[a].tolist()] for a in names]
                results = (pdf[alias].tolist() if alias in pdf.columns
                           else [None] * n)
                errors = [None] * n
                for i, row in enumerate(zip(*values) if names
                                        else [()] * n):
                    try:
                        res = call(cl, *row)
                    except Exception as exc:  # the row's fail flag
                        errors[i] = error(exc)
                        continue
                    results[i] = None if res is None else str(res)
                out = pdf.drop(columns=names)
                if alias is not None:
                    out[alias] = results
                out[_NEW_ERROR] = errors
                yield out

    return _flag_new_errors(
        work.mapInPandas(run, schema=_with_new_error(fields)))


def _with_new_error(fields: list) -> T.StructType:
    return T.StructType(
        fields + [T.StructField(_NEW_ERROR, T.StringType())])


def _flag_new_errors(df: DataFrame) -> DataFrame:
    return df.withColumn(ERROR_COL, flag_error(df, F.col(_NEW_ERROR))) \
        .drop(_NEW_ERROR)
