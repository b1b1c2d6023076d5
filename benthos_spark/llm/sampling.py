"""Deterministic mixture sampling — hitting a target domain mix when
assembling a training corpus (e.g. 50% web, 30% code, 20% books).

Spark's `df.sample()` / `sampleBy()` draw per-partition pseudo-random
numbers, so results change whenever partitioning, task retries, or
engine version change.  For training-data pipelines the sample must be
REPRODUCIBLE (same docs in, same docs out — across reruns, engines, and
cluster sizes), so we hash the document id instead: keep a row iff
bucket(md5(id)) < rate[stratum].  Map-only, zero shuffle, and the same
row set falls out of any engine that can compute md5 (the DuckDB oracle
reproduces it bit-for-bit).

Salting the hash (`salt=`) yields independent resamples — drawing a
fresh epoch's subsample is a salt change, not a reshuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from benthos_spark.llm.dedup import hash48

_BUCKETS = float(2 ** 48)


def sample_bucket(id_col: Column, salt: str = "") -> Column:
    """Uniform [0,1) bucket from a 48-bit md5 prefix of the id."""
    key = F.concat(F.lit(salt), id_col.cast("string"))
    return hash48(key) / F.lit(_BUCKETS)


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      key: str = "source", id_col: str = "doc_id",
                      default: float = 0.0, salt: str = "") -> DataFrame:
    """Keep each row of stratum `s` with probability `rates[s]`
    (deterministically, by id hash).  Strata absent from `rates` fall
    back to `default`.

    At 100 TB this is one predicate pushed into the scan — no shuffle,
    no sort, no state; the mixture error vs the target rates is
    O(1/sqrt(n_stratum)) by standard hashing-uniformity arguments.
    """
    rate_map = F.create_map(
        *[F.lit(x) for kv in rates.items() for x in kv])
    rate = F.coalesce(F.element_at(rate_map, F.col(key)),
                      F.lit(float(default)))
    return df.filter(sample_bucket(F.col(id_col), salt) < rate)


def temperature_rates(counts: dict[str, int], alpha: float = 0.7,
                      target_fraction: float = 1.0) -> dict[str, float]:
    """Temperature-scaled mixture weights from per-domain corpus sizes
    (the multilingual-pretraining recipe: sampling probability ∝
    n_d^alpha, so small domains are up-weighted as alpha → 0).

    Returns per-domain KEEP RATES for stratified_sample such that the
    sampled corpus totals `target_fraction` of the input rows and the
    expected domain shares follow p_d ∝ n_d^alpha.  Rates are capped
    at 1.0 (can't up-sample without duplication); cap overflow is
    redistributed over the uncapped domains in n^alpha proportion —
    the standard waterfilling fix, iterated to fixpoint.

    Driver-side arithmetic on a tiny dict — the corpus-side count
    aggregate is one map-side-combined groupBy the caller runs once.
    """
    if not counts:
        return {}
    total = float(sum(counts.values()))
    budget = target_fraction * total
    weights = {d: float(n) ** alpha for d, n in counts.items()}
    rates: dict[str, float] = {}
    free = dict(weights)  # domains not yet capped at rate 1.0
    while free:
        wsum = sum(free.values())
        overflow = False
        for d in list(free):
            want = budget * free[d] / wsum  # rows asked of domain d
            if want >= counts[d]:
                rates[d] = 1.0
                budget -= counts[d]
                del free[d]
                overflow = True
        if not overflow:
            for d in free:
                rates[d] = (budget * free[d] / wsum) / counts[d]
            break
    # 9dp rounding makes the rates reproducible across engines whose
    # float summation order differs (dict order here, group order in a
    # SQL oracle) — epsilon-level divergence can't flip a keep/drop
    return {d: round(r, 9) for d, r in rates.items()}


def temperature_sample(df: DataFrame, alpha: float = 0.7,
                       target_fraction: float = 0.5,
                       key: str = "source", id_col: str = "doc_id",
                       salt: str = "") -> DataFrame:
    """Temperature mixture sampling end-to-end: count domains (one
    tiny aggregate), derive waterfilled rates, stratified-sample.  The
    counts collect is |domains| rows — bounded by design."""
    counts = {r[key]: r["n"] for r in
              df.groupBy(key).agg(F.count("*").alias("n")).collect()}
    rates = temperature_rates(counts, alpha, target_fraction)
    return stratified_sample(df, rates, key=key, id_col=id_col, salt=salt)


def split_boundaries(splits: list[tuple[str, float]]) -> list[tuple[str, float]]:
    """(name, weight) → (name, cumulative upper bound in [0,1]); the
    exact IEEE partial sums, exposed so an external reproduction (e.g.
    a SQL oracle) can embed the same boundary literals."""
    total = sum(w for _, w in splits)
    out, cum = [], 0.0
    for name, w in splits:
        cum += w / total
        out.append((name, cum))
    return out


def hash_split(df: DataFrame, splits: list[tuple[str, float]],
               id_col: str = "doc_id", salt: str = "",
               out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: the id's 48-bit md5
    bucket lands in cumulative weight ranges.  Partition-invariant,
    reshuffle-stable, and reproducible across engines/runs (same salt
    ⇒ same split forever — the property a training pipeline needs so
    eval rows never leak into train between runs).  Map-only: one
    projected CASE, no shuffle, predicate-pushable when filtered."""
    bounds = split_boundaries(splits)
    b = sample_bucket(F.col(id_col), salt)
    expr = None
    for name, ub in bounds[:-1]:
        expr = (F.when(b < F.lit(ub), name) if expr is None
                else expr.when(b < F.lit(ub), name))
    last = bounds[-1][0]
    out = expr.otherwise(last) if expr is not None else F.lit(last)
    return df.withColumn(out_col, out)


def deterministic_shuffle(df: DataFrame, id_col: str = "doc_id",
                          seed: str = "shuf", n_shards: int = 32) -> DataFrame:
    """Deterministic corpus shuffle for training-order assignment:
    every doc gets a (shard, pos) coordinate from the md5 of
    seed||id — reproducible across runs/engines, independent of input
    partitioning, and free of source/time correlation (the reason
    training pipelines shuffle before sharding).

    Returns (id_col, shard, pos).  Scale shape: ONE window shuffle
    partitioned by the shard id; each shard sorts only its n/n_shards
    rows, so there is no global sort.  Writers can feed (shard, pos)
    straight into write.partitionBy(shard) + sortWithinPartitions(pos).
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    work = df.select(F.col(id_col),
                     F.conv(F.substring(h, 1, 12), 16, 10)
                     .cast("long").alias("__hk"),
                     F.substring(h, 13, 20).alias("__ho"))
    w = Window.partitionBy("__shard").orderBy("__ho", id_col)
    return (work.withColumn("__shard",
                            (F.col("__hk") % n_shards).cast("int"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select(id_col, F.col("__shard").alias("shard"), "pos"))


# ---------------------------------------------------------------- DSIR

def dsir_fit(target: DataFrame, raw: DataFrame, text: str = "text",
             id_col: str = "doc_id", buckets: int = 256,
             smoothing: float = 0.5) -> list[int]:
    """Fit DSIR importance log-ratios: hash every unigram/bigram of the
    target sample and the raw corpus into `buckets` buckets, Laplace-
    smooth both distributions, and return per-bucket
    round(1e6 * (ln p_target - ln q_raw)) as INTEGER micro-nats.

    Integerizing makes downstream per-document weights order-free
    int64 sums — bit-exact across engines and partitionings (the same
    trick as frequency_mass).  Scale shape: two map-side-combined
    hash aggregations producing `buckets` rows each; the collect is
    bounded by `buckets` (driver-side cost is O(256), not O(corpus)).

    Grams are built and hashed in one mapInPandas pass with a per-batch
    histogram (llm.grams.dsir_bucket_hist) — no interpreted per-gram
    lambdas (at sf1 on 4 vCPU: 10.2 s with a Column word_ngrams plan,
    4.0 s with the kernel)."""
    import math

    from benthos_spark.llm.grams import dsir_bucket_hist

    def bucket_counts(df_: DataFrame) -> dict[int, int]:
        rows = dsir_bucket_hist(df_, buckets, text, id_col).collect()
        return {int(r["b"]): int(r["rn"]) for r in rows if r["rn"]}

    ct, cr = bucket_counts(target), bucket_counts(raw)
    t_tot = sum(ct.values()) + smoothing * buckets
    r_tot = sum(cr.values()) + smoothing * buckets
    out = []
    for b in range(buckets):
        p = (ct.get(b, 0) + smoothing) / t_tot
        q = (cr.get(b, 0) + smoothing) / r_tot
        out.append(int(round((math.log(p) - math.log(q)) * 1e6)))
    return out


def dsir_weights(df: DataFrame, logratios: list[int], text: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document DSIR importance weight: Σ over the doc's
    unigram/bigram stream of the fitted bucket log-ratio (integer
    micro-nats, exact; order-free sum ⇒ partition-invariant).

    The whole per-doc sum is computed inside one mapInPandas pass
    (llm.grams.dsir_weight_stream): map-only, one output row per
    document (weight 0 for a null or gram-less text), NO shuffle —
    Python int sums are exact, so the weights equal the oracle SQL's
    order-free integer aggregate."""
    from benthos_spark.llm.grams import dsir_weight_stream
    return dsir_weight_stream(df, logratios, text, id_col)


def dsir_select(df: DataFrame, target: DataFrame, k: int,
                text: str = "text", id_col: str = "doc_id",
                buckets: int = 256, smoothing: float = 0.5,
                logratios: list[int] | None = None) -> DataFrame:
    """DSIR data selection: fit target-vs-raw hashed-n-gram importance
    weights, score every raw document, keep the top-k (weight DESC,
    id ASC — the deterministic counterpart of Gumbel top-k resampling;
    pass pre-fitted `logratios` to score new data without refitting).

    Returns (id_col, dsir_weight) for the selected docs.  Scale shape:
    fit = two bounded aggregations; score = map-only scan; selection =
    TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    the driver — no global sort)."""
    lr = logratios if logratios is not None else dsir_fit(
        target, df, text, id_col, buckets, smoothing)
    w = dsir_weights(df, lr, text, id_col)
    return w.orderBy(F.col("dsir_weight").desc(), F.col(id_col)).limit(k)


def dsir_fit_conditional(raw: DataFrame, target_cond: Column,
                         text: str = "text", id_col: str = "doc_id",
                         buckets: int = 256,
                         smoothing: float = 0.5) -> list[int]:
    """`dsir_fit` when the target sample is a PREDICATE over the raw
    corpus (the common case — "docs like the wiki slice"): both bucket
    histograms come out of ONE scan via a conditional aggregate,
    halving the fit cost at 100 TB.  Same integer micro-nat output as
    dsir_fit, bit-identical when target ≡ raw.filter(target_cond).
    The scan is the batched-histogram kernel (llm.grams.dsir_bucket_hist
    with cond), counting both histograms in one pass."""
    import math

    from benthos_spark.llm.grams import dsir_bucket_hist

    rows = dsir_bucket_hist(raw, buckets, text, id_col,
                            cond=target_cond).collect()
    ct = {int(r["b"]): int(r["tn"]) for r in rows}
    cr = {int(r["b"]): int(r["rn"]) for r in rows}
    t_tot = sum(ct.values()) + smoothing * buckets
    r_tot = sum(cr.values()) + smoothing * buckets
    return [int(round((math.log((ct.get(b, 0) + smoothing) / t_tot)
                       - math.log((cr.get(b, 0) + smoothing) / r_tot))
                      * 1e6))
            for b in range(buckets)]
