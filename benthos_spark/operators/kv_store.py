"""redis / mongodb enrichment processors.

Reference: lib/processor/redis.go (operators scard/sadd/incrby, key
interpolated per message, result replaces part contents) and
internal/impl/mongodb/processor.go (operations insert-one, delete-one,
delete-many, replace-one, update-one, find-one; filter_map /
document_map are Bloblang mappings evaluated per message).

Spark shape — same doctrine as http_enrich / lambda_map: everything
that CAN run JVM-side does (the interpolated key and the Bloblang
filter/document maps compile to Columns and are evaluated inside
whole-stage codegen BEFORE the client stage); only the client call
itself runs per row, through `datamodel.map_calls` (Arrow-batched, ONE
client per partition).  Results land in an alias column; a failed call
flags the row's `_error` (`datamodel.flag_error`: the new error replaces
an older one) — columnar adaptation of "result replaces part contents".

At 100 TB the same caveat as the reference docs: a per-record remote
round-trip is the bottleneck by construction.  Prefer cache_lookup_join
(broadcast dimension) for keyed reads; these processors exist for the
genuinely per-record mutate/enrich cases, and the per-partition client
+ Arrow batching is the best shape Spark offers for them.

`client_factory` is injectable (the aws_lambda pattern): any object
with the redis-py (`scard`/`sadd`/`incrby`) or pymongo
(`client[db][coll].insert_one/...`) contract.  Default factories
import the real drivers, gated behind actionable errors in
environments without them; tests inject dict-backed fakes.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from benthos_spark.datamodel import CONTENT_COL, map_calls

REDIS_OPERATORS = ("scard", "sadd", "incrby")

MONGO_OPERATIONS = ("insert-one", "delete-one", "delete-many",
                    "replace-one", "update-one", "find-one")

# operation → (needs document, needs filter) — processor.go:28-51
_MONGO_NEEDS = {
    "insert-one": (True, False),
    "delete-one": (False, True),
    "delete-many": (False, True),
    "replace-one": (True, True),
    "update-one": (True, True),
    "find-one": (False, True),
}


def _default_redis_factory(url: str):
    def factory():
        try:
            import redis  # type: ignore
        except ImportError as exc:
            raise RuntimeError(
                "redis processor: the redis package is not installed in "
                "this environment; pass client_factory=... (any object "
                "with scard/sadd/incrby) or install redis-py") from exc
        return redis.Redis.from_url(url)
    return factory


def _default_mongo_factory(url: str):
    def factory():
        try:
            import pymongo  # type: ignore
        except ImportError as exc:
            raise RuntimeError(
                "mongodb processor: pymongo is not installed in this "
                "environment; pass client_factory=... (any object with "
                "the client[db][coll] collection contract) or install "
                "pymongo") from exc
        return pymongo.MongoClient(url)
    return factory


def redis_map(df: DataFrame, operator: str, key_col: Column,
              value_col: Column | None = None,
              alias: str = "redis_result",
              client_factory=None, url: str = "") -> DataFrame:
    """redis processor (lib/processor/redis.go:49): apply scard / sadd /
    incrby with a per-message interpolated key.  sadd's member and
    incrby's amount come from `value_col` (defaults to the `content`
    column — the reference uses the part contents, redis.go:231-269).
    The integer reply lands in `alias` (stringified, matching the
    reference's bytes-of-decimal contents), failures set `_error`."""
    if operator not in REDIS_OPERATORS:
        raise ValueError(
            f"operator not recognised: {operator!r} (redis.go:280 — "
            f"must be one of {REDIS_OPERATORS})")
    if value_col is None:
        value_col = (F.col(CONTENT_COL) if CONTENT_COL in df.columns
                     else F.lit(None))

    def call(client, key, val):
        if operator == "scard":
            return int(client.scard(key))
        if operator == "sadd":
            return int(client.sadd(key, val if val is not None else ""))
        return int(client.incrby(key, int(val)))

    return map_calls(df, [key_col.cast("string"), value_col.cast("string")],
                     call, client=client_factory or _default_redis_factory(url),
                     alias=alias, error=lambda e: f"redis {operator}: {e}")


def mongodb_map(df: DataFrame, operation: str, database: str,
                collection: str,
                filter_col: Column | None = None,
                document_col: Column | None = None,
                upsert: bool = False,
                alias: str = "mongo_result",
                client_factory=None, url: str = "") -> DataFrame:
    """mongodb processor (internal/impl/mongodb/processor.go:312-351).

    `filter_col` / `document_col` are JSON-string Columns — the
    Bloblang filter_map / document_map evaluate JVM-side and only the
    serialized objects cross into Python.  find-one puts the found
    document (JSON) into `alias`; write operations put a small ack
    object ({"matched":…,"modified":…} etc.); a missing find-one
    document sets `_error` like the reference's ErrNoDocuments."""
    needs_doc, needs_filter = _MONGO_NEEDS.get(operation, (None, None))
    if needs_doc is None:
        raise ValueError(
            f"mongodb operation {operation!r} unknown: must be one of "
            f"{MONGO_OPERATIONS} (processor.go:170)")
    if needs_doc and document_col is None:
        raise ValueError(f"mongodb {operation}: document_map required")
    if needs_filter and filter_col is None:
        raise ValueError(f"mongodb {operation}: filter_map required")
    factory = client_factory or _default_mongo_factory(url)

    def call(client, flt, doc):
        coll = client[database][collection]
        fobj = json.loads(flt) if flt else None
        dobj = json.loads(doc) if doc else None
        if operation == "insert-one":
            return json.dumps({"inserted_id": str(
                coll.insert_one(dobj).inserted_id)})
        if operation in ("delete-one", "delete-many"):
            r = (coll.delete_one if operation == "delete-one"
                 else coll.delete_many)(fobj)
            return json.dumps({"deleted": int(r.deleted_count)})
        if operation in ("replace-one", "update-one"):
            if operation == "replace-one":
                r = coll.replace_one(fobj, dobj, upsert=upsert)
            else:
                r = coll.update_one(
                    fobj, dobj if any(k.startswith("$") for k in dobj)
                    else {"$set": dobj}, upsert=upsert)
            return json.dumps({"matched": int(r.matched_count),
                               "modified": int(r.modified_count)})
        found = coll.find_one(fobj)  # find-one
        if found is None:
            raise LookupError("no documents")
        return json.dumps(found, default=str, sort_keys=True)

    def arg(col):
        return (col if col is not None else F.lit(None)).cast("string")

    return map_calls(df, [arg(filter_col), arg(document_col)], call,
                     client=factory, alias=alias,
                     error=lambda e: f"mongodb {operation}: {e}")


def dynamodb_partiql_map(df: DataFrame, query: str,
                         args_cols: list[Column] | None = None,
                         alias: str = "partiql_result",
                         client_factory=None,
                         region: str = "") -> DataFrame:
    """dynamodb_partiql processor (internal/impl/aws/
    dynamodb_partiql_processor.go:18): run a PartiQL statement per
    message; read results land in `alias` as a JSON array of items,
    write acks as {}.  `args_cols` are Bloblang-compiled Columns (the
    args_mapping list re-expressed as the sql processor's `args`
    convention) — they evaluate JVM-side and cross as one JSON object
    whose insertion order is the parameter order.

    Client contract: boto3 dynamodb `execute_statement(Statement=...,
    Parameters=[...]) -> {"Items": [...]}`; the default factory
    imports boto3 (gated), tests inject fakes."""
    if args_cols:
        # ignoreNullFields=false: a null arg must survive as an
        # explicit null, or every later positional PartiQL parameter
        # silently shifts left
        packed = F.to_json(
            F.struct(*[c.alias(f"a{i}")
                       for i, c in enumerate(args_cols)]),
            {"ignoreNullFields": "false"})
    else:
        packed = F.lit(None).cast("string")

    def default_factory():
        try:
            import boto3
        except ImportError as exc:
            raise RuntimeError(
                "dynamodb_partiql: boto3 is not installed in this "
                "environment; pass client_factory=... (any object with "
                "the boto3 dynamodb execute_statement contract)") from exc
        return boto3.client("dynamodb",
                            **({"region_name": region} if region else {}))

    def call(client, args_json):
        kwargs = {"Statement": query}
        if args_json:
            kwargs["Parameters"] = list(json.loads(args_json).values())
        resp = client.execute_statement(**kwargs)
        return json.dumps(resp.get("Items", []), default=str,
                          sort_keys=True)

    return map_calls(df, [packed], call,
                     client=client_factory or default_factory, alias=alias,
                     error=lambda e: f"dynamodb_partiql: {e}")
