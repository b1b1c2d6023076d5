"""Multi-destination routing: broker patterns, switch output, DLQ.

Reference: lib/output/{broker.go:28 (fan_out, fan_out_sequential,
round_robin, greedy, try), switch.go:45, drop_on_error.go:21,
reject.go:20, retry.go:24}; lib/broker/*.go.

Mapping notes (SURVEY §2.4):
- fan_out → write the same DataFrame to N sinks.  The frame is
  persisted once so each sink replays from cache, not from source.
- switch → disjoint filtered branches, one writer each; first-match
  semantics come from the cumulative negation, like the processor-side
  switch_branches.
- round_robin/greedy → load-balancing single consumers; in a
  distributed engine both degenerate to partition-parallel writes of
  disjoint slices (pmod routing here).
- nack/retry chains → dead-letter tables: rows that fail the guard
  condition go to a DLQ sink, the rest continue.  This replaces the
  reference's backward-ack retry loop (transaction.go:8) with the
  standard at-scale pattern.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from benthos_spark.datamodel import ERROR_COL

Sink = Callable[[DataFrame], None]


def fan_out(df: DataFrame, sinks: list[Sink],
            cache: bool = True) -> None:
    """broker `fan_out`/`fan_out_sequential` (lib/broker/fan_out.go):
    deliver every row to every sink.  Sequential by construction here
    (Spark actions are blocking); parallel fan-out is a thread pool over
    the same cached frame."""
    if cache:
        df = df.persist()
    try:
        for sink in sinks:
            sink(df)
    finally:
        if cache:
            df.unpersist()


def switch_output(df: DataFrame,
                  cases: list[tuple[Column | None, Sink]],
                  cache: bool = True) -> None:
    """`switch` output (lib/output/switch.go:45): route each row to the
    first case whose check passes; None check = default case."""
    if cache:
        df = df.persist()
    try:
        remaining = F.lit(True)
        for check, sink in cases:
            if check is None:
                sink(df.filter(remaining))
                remaining = F.lit(False)
            else:
                sink(df.filter(remaining & check))
                remaining = remaining & ~F.coalesce(check, F.lit(False))
    finally:
        if cache:
            df.unpersist()


def partition_routes(df: DataFrame, n: int, route_on: Column) -> list[DataFrame]:
    """broker `round_robin`/`greedy` analogue: split into n disjoint
    slices by deterministic hash routing (arrival-order round-robin has
    no distributed meaning — documented deviation)."""
    h = F.pmod(F.xxhash64(route_on), F.lit(n))
    return [df.filter(h == i) for i in range(n)]


def with_dead_letter(df: DataFrame, dlq_sink: Sink) -> DataFrame:
    """`drop_on_error`/`reject`/DLQ pattern: failed rows (`_error` set)
    go to the dead-letter sink; clean rows flow onward.  A frame with
    no `_error` column has nothing to route — every row is clean."""
    if ERROR_COL not in df.columns:
        return df
    df = df.persist()
    dlq_sink(df.filter(F.col(ERROR_COL).isNotNull()))
    return df.filter(F.col(ERROR_COL).isNull())
