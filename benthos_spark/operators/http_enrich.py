"""`http` enrichment processor: per-record external requests.

Reference: lib/processor/http.go:25 (request per message, parallel
option, retry/backoff) — the theta-join-ish per-record lookup.

Two mappings, fastest first (SURVEY §2.2 enrichment table):

1. **Materialize + join** (`cache_lookup_join`): when the endpoint
   serves a keyed dataset, fetch it ONCE into a dimension table and
   broadcast-join.  No per-record round trips; always prefer this at
   scale.
2. **`http_enrich` below**: genuinely dynamic per-record calls through
   `datamodel.map_calls`, exactly one request per row.  Retries with
   exponential backoff mirror lib/util/retries defaults; a request
   that still fails flags the row (`datamodel.flag_error`: the new
   error replaces an older one) and keeps its rows and columns.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from benthos_spark.datamodel import map_calls, row_payload


def http_enrich(df: DataFrame, url_col: Column, alias: str = "response",
                method: str = "GET", body_col: Column | None = None,
                headers: dict[str, str] | None = None,
                timeout_s: float = 10.0, retries: int = 2) -> DataFrame:
    """Call `url` per row; the response body lands in `alias`, a failed
    request flags `_error`.  urllib-based (stdlib)."""
    hdrs = dict(headers or {})

    def call(_client, url: str, body: str | None = None) -> str:
        import time
        import urllib.error
        import urllib.request

        data = body.encode() if body is not None else None
        for attempt in range(retries + 1):
            try:
                req = urllib.request.Request(url, data=data,
                                             headers=hdrs, method=method)
                with urllib.request.urlopen(req, timeout=timeout_s) as r:
                    return r.read().decode()
            except (urllib.error.URLError, OSError, ValueError):
                if attempt == retries:
                    raise
                time.sleep(0.1 * (2 ** attempt))  # backoff

    args = [url_col] if body_col is None else [url_col, body_col]
    return map_calls(df, args, call, client=lambda: None, alias=alias,
                     error=lambda e: f"http request failed: {e}")


def http_enrich_json(df: DataFrame, url_col: Column, schema: str,
                     alias: str = "response", **kwargs) -> DataFrame:
    """http_enrich + typed parse of the JSON response body."""
    out = http_enrich(df, url_col, alias=f"__{alias}_raw", **kwargs)
    return out.withColumn(alias, F.from_json(F.col(f"__{alias}_raw"), schema)) \
              .drop(f"__{alias}_raw")


def fetch_dimension(spark, url: str, schema: str,
                    timeout_s: float = 30.0) -> DataFrame:
    """Mapping #1: fetch a keyed dataset ONCE (driver-side) and
    parallelize as a dimension table for cache_lookup_join — the
    scale-correct replacement for per-record GETs against static-ish
    endpoints (json array of objects expected)."""
    import urllib.request
    with urllib.request.urlopen(url, timeout=timeout_s) as r:
        rows = json.loads(r.read().decode())
    from benthos_spark.operators.literals import values_or_pickled
    return values_or_pickled(spark, rows, schema)


class _FunctionError(Exception):
    """The function ran and reported a failure (status code, body)."""


def lambda_map(df: DataFrame, function_name: str,
               payload_col: Column | None = None,
               alias: str = "lambda_response",
               client_factory=None) -> DataFrame:
    """aws_lambda processor (lib/processor/aws_lambda.go): invoke a
    Lambda per record (`datamodel.map_calls`: one client per
    partition); the response body lands in `alias`, an invocation or
    function failure flags `_error` (the reference's error-flag
    semantics).  The payload defaults to the row's
    `datamodel.row_payload`.

    `client_factory` returns an object with
    `invoke(FunctionName=..., Payload=bytes) -> {"Payload": reader,
    "StatusCode": int}` (the boto3 lambda client contract).  The
    default factory imports boto3 — gated with an actionable error in
    environments without it; tests inject a fake.
    At 100 TB the same caveat as the reference docs: a per-record
    remote call is the bottleneck by construction — prefer batching
    inside the payload or precomputing a dimension."""

    def default_factory():
        try:
            import boto3
        except ImportError as exc:
            raise RuntimeError(
                "aws_lambda: boto3 is not installed in this environment; "
                "pass client_factory=... (any object with the boto3 "
                "lambda `invoke` contract) or install boto3 with AWS "
                "credentials") from exc
        return boto3.client("lambda")

    def call(client, body: str | None) -> str:
        resp = client.invoke(FunctionName=function_name,
                             Payload=(body or "").encode())
        raw = resp["Payload"].read()
        text = raw.decode() if isinstance(raw, (bytes, bytearray)) \
            else str(raw)
        code = int(resp.get("StatusCode", 200))
        if code >= 300 or resp.get("FunctionError"):
            raise _FunctionError(code, text)
        return text

    def error(exc: Exception) -> str:
        if isinstance(exc, _FunctionError):
            code, text = exc.args
            return f"lambda error {code}: {text[:200]}"
        return f"lambda invoke failed: {str(exc)[:200]}"

    return map_calls(
        df, [payload_col if payload_col is not None else row_payload(df)],
        call, client=client_factory or default_factory, alias=alias,
        error=error)
