"""Routing / control-flow operators.

Reference: lib/processor/{switch,group_by,group_by_value,split,
select_parts,insert_part}.go.  Pure-mapping switches compile to CASE
expressions (one projection, no branching); processor-bearing switches
compile to filtered branch unions (see plans.branch).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def switch_case(cases: list[tuple[Column | None, Column]],
                alias: str = "case") -> Column:
    """`switch` with pure-mapping cases (lib/processor/switch.go:27):
    first matching check wins, like the reference's case scan.  A `None`
    check takes every row that reaches it, so cases after it are never
    taken; a check that is NULL for a row counts as false."""
    expr = None
    default = None
    for check, value in cases:
        if check is None:
            default = value
            break
        expr = F.when(check, value) if expr is None else expr.when(check, value)
    if expr is None:
        expr = default if default is not None else F.lit(None)
    elif default is not None:
        expr = expr.otherwise(default)
    return expr.alias(alias)


def switch_branches(df: DataFrame,
                    cases: list[tuple[Column | None, Callable[[DataFrame], DataFrame]]],
                    ) -> DataFrame:
    """`switch` with processor-bearing cases: route each row to the first
    matching case's sub-pipeline, union the results.  A `None` check
    takes every remaining row, and a NULL check counts as false, as in
    `switch_case`.  Each branch filters its own copy of `df`, so the
    physical plan scans the input, and runs every processor above it,
    once per case; `switch_projection` is the one-scan form for cases
    that are single projections."""
    remaining = F.lit(True)
    branches = []
    for check, pipeline in cases:
        if check is None:
            branches.append(pipeline(df.filter(remaining)))
            remaining = F.lit(False)
        else:
            check = F.coalesce(check, F.lit(False))
            branches.append(pipeline(df.filter(remaining & check)))
            remaining = remaining & ~check
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


def switch_projection(df: DataFrame,
                      cases: list[tuple[Column | None,
                                        list[tuple[str, Column]],
                                        Column | None]],
                      ) -> DataFrame | None:
    """`switch_branches` over cases that each project `df` row by row,
    as ONE projection of one scan.  A case is `(check, outputs, drop)`:
    its output `(name, Column)` list and the condition under which it
    deletes a row (None: never).

    A tag column holds the first matching case (`switch_case`).  Each
    output column is a CASE over the tag, or the case's expression
    itself when every case gives the same one; rows with no case, or
    that their case deletes, are filtered out.  The result equals the
    union's: its columns in `unionByName` order, NULL where a row's
    case does not produce them.  None when that equality is not
    certain, and the caller keeps the union: a case whose projection
    is not row-wise (a window, generator, aggregate or Python UDF sees
    other rows or rows of other cases), a column whose type differs
    between cases (the union would widen it), or names that differ
    only in case."""
    from pyspark.errors import AnalysisException

    if not cases:
        return None
    jvm = df.sparkSession._jvm
    python_udf = jvm.org.apache.spark.sql.catalyst.trees.TreePattern \
        .PYTHON_UDF()
    base = df._jdf.queryExecution().analyzed()
    tag = "__switch_case__"
    types: list[dict[str, object]] = []
    for _check, outputs, drop in cases:
        cols = [c.alias(n) for n, c in outputs]
        if drop is not None:
            cols.append(drop.alias("__switch_drop__"))
        try:
            case_df = df.select(*cols)
            schema = case_df.schema
        except AnalysisException:
            return None
        plan = case_df._jdf.queryExecution().analyzed()
        if (plan.nodeName() != "Project" or not plan.child().equals(base)
                or plan.containsPattern(python_udf)):
            return None
        names = [n for n, _ in outputs]
        if len({n.lower() for n in names}) < len(names):
            return None
        types.append({f.name: f.dataType for f in schema.fields[:len(names)]})
    order: list[str] = []
    for t in types:
        order += [n for n in t if n not in order]
    if len({n.lower() for n in order}) < len(order):
        return None
    for n in order:
        dts = [t[n] for t in types if n in t]
        if any(dt != dts[0] for dt in dts):
            return None

    case = F.col(tag)

    def over_case(exprs: dict[int, Column]) -> Column:
        out = None
        for i, e in exprs.items():
            out = (F.when(case == i, e) if out is None
                   else out.when(case == i, e))
        return out

    outs = [dict(outputs) for _c, outputs, _d in cases]
    cols = []
    for n in order:
        exprs = {i: o[n] for i, o in enumerate(outs) if n in o}
        first = exprs[min(exprs)]
        same = len(exprs) == len(cases) and all(
            e._jc.equals(first._jc) for e in exprs.values())
        cols.append((first if same else over_case(exprs)).alias(n))
    keep = case.isNotNull()
    drops = {i: d for i, (_c, _o, d) in enumerate(cases) if d is not None}
    if drops:
        keep = keep & ~F.coalesce(over_case(drops), F.lit(False))
    tagged = df.withColumn(tag, switch_case(
        [(check, F.lit(i)) for i, (check, _o, _d) in enumerate(cases)],
        alias=tag))
    return tagged.filter(keep).select(*cols)


def group_by_checks(df: DataFrame,
                    groups: list[tuple[str, Column | None]],
                    alias: str = "group") -> DataFrame:
    """`group_by` (lib/processor/group_by.go:28,108-110): split a batch
    into named groups by the first matching check (None = catch-all).
    Downstream per-group pipelines filter on the label — the compiled
    form of the reference's per-group processor lists."""
    return df.withColumn(alias, switch_case(
        [(cond, F.lit(name)) for name, cond in groups], alias=alias))


def group_by_value(df: DataFrame, value: Column | str) -> DataFrame:
    """`group_by_value` (lib/processor/group_by_value.go:22): re-group the
    stream by an interpolated value (e.g. kafka key).  In Spark this is a
    hash repartition — downstream per-group operators then run without a
    second shuffle."""
    col = F.col(value) if isinstance(value, str) else value
    return df.repartition(col)


_BATCHES_PER_SHARD = 2 ** 40  # batch_id = shard * 2^40 + local batch


def split_batches(df: DataFrame, size: int, order_by: list[Column],
                  batch_col: str = "batch_id",
                  index_col: str = "part_index",
                  n_shards: int = 32,
                  global_order: bool = False) -> DataFrame:
    """`split` (lib/processor/split.go:17): re-batch parts into batches of
    `size`.  The reference gets ordering for free from single-node
    sequencing; we pin a deterministic order explicitly.

    Default is SHARDED: rows hash-shard on the first order key
    (portable 48-bit md5 hash, reproducible in any engine), the
    row_number window partitions by shard, and batch ids embed the
    shard (`shard * 2^40 + local_batch`).  Every batch still holds
    `size` parts in a deterministic order, but the sort runs
    n_shards-way parallel — no single-partition window, so the plan
    survives 100× data by raising n_shards.

    `global_order=True` restores the reference-exact single sequence
    (one global row_number → one partition carries the window); only
    for small, already-grouped data.
    """
    rn_w = (Window.orderBy(*order_by) if global_order
            else Window.partitionBy("__shard").orderBy(*order_by))
    t = df
    if not global_order:
        from benthos_spark.llm.dedup import hash48
        t = df.withColumn(
            "__shard", F.pmod(hash48(order_by[0].cast("string")),
                              F.lit(n_shards)))
    rn = F.row_number().over(rn_w) - 1
    base = (F.lit(0).cast("long") if global_order
            else F.col("__shard") * F.lit(_BATCHES_PER_SHARD))
    return (t.withColumn(batch_col,
                         (base + F.floor(rn / size)).cast("long"))
             .withColumn(index_col, (rn % size).cast("int"))
             .drop("__shard"))


def select_parts(df: DataFrame, indexes: list[int],
                 index_col: str = "part_index",
                 batch_col: str | None = None) -> DataFrame:
    """`select_parts` (lib/processor/select_parts.go:17): keep only the
    given part indexes of each batch.  Negative indexes count from the
    batch end (the reference's len arithmetic, select_parts.go:17):
    they need `batch_col` to derive the batch length — a windowed
    count over the batch key, no extra shuffle when the frame is
    already batch-partitioned."""
    pos = [i for i in indexes if i >= 0]
    neg = [i for i in indexes if i < 0]
    cond = F.col(index_col).isin(pos) if pos else F.lit(False)
    if not neg:
        return df.filter(cond)
    if batch_col is None:
        raise ValueError(
            "select_parts: negative indexes need batch_col to derive "
            "the batch length")
    # windows can't appear in a filter — project the batch size first
    size = F.count("*").over(Window.partitionBy(batch_col))
    return (df.withColumn("__bsz", size)
              .filter(cond | (F.col(index_col) - F.col("__bsz")).isin(neg))
              .drop("__bsz"))


def insert_part(df: DataFrame, part: DataFrame) -> DataFrame:
    """`insert_part` (lib/processor/insert_part.go:19): union a literal
    part into every batch (index bookkeeping left to caller)."""
    return df.unionByName(part, allowMissingColumns=True)
