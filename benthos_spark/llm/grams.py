"""Arrow gram kernels: tokenize → word n-grams → 48-bit md5 hashes in
ONE vectorized pandas pass per document batch.

Why this exists: word n-gram construction via Column higher-order
functions (`transform(sequence(...), i -> array_join(slice(toks,i,n)))`)
runs INTERPRETED per gram — Spark evaluates HOF lambda bodies outside
whole-stage codegen.  At sf1 that interpreted loop dominated the three
gram-heavy operators (DSIR 4.9×, Bloom decontamination 5.4×, bigram-LM
4.4× wall ratio at 10× data).  This module is the word_ngrams analogue
of the MinHash signature kernel (dedup._banded_signatures_arrow, which
took that operator 46.6s → 3.0s at sf1): one `mapInPandas` pass that
splits, builds grams, and hashes with a memoized md5 — no per-gram
Catalyst expression, no JVM↔Python chatter beyond one Arrow exchange.

Bit-exactness contract with the DuckDB oracle SQL of every consumer
query (``_sql_toks``/``_sql_hex12`` in __spark_entry__.py), asserted by
those oracles and by tests/test_llm.py's pure-Python reference tests
(``_ref_toks``/``_ref_grams``/``_ref_h48``, written from this contract
and never importing it):

- tokenize: ``re.split(r"\\s+", text.strip(" "), flags=re.ASCII)`` —
  the ASCII whitespace class [ \\t\\n\\x0B\\f\\r] (also Java's default
  ``\\s``, so Spark's ``split(trim(text), '\\s+')`` agrees), keeping
  leading/trailing empty fields; ``trim`` strips 0x20 only, and
  unicode whitespace does not split.  The oracles' DuckDB
  ``string_split_regex`` uses RE2, whose ``\\s`` lacks 0x0B, so they
  split on ``[\\s\\v]+`` to cover the same class.
- gram join: ``" ".join(toks[i:i+n])`` (empty members kept — "\\ta b"
  yields the gram " a").
- hash48: ``int.from_bytes(md5(utf8)[:6], 'big')`` ≡
  ``conv(substring(md5(g),1,12),16,10)``.
- NULL text produces NO gram rows.

Scale shape: every kernel here is MAP-ONLY over the corpus — the Arrow
exchange replaces the interpreted HOF, not the plan's shuffle
structure.  Kernels that can pre-aggregate do so per batch (bucket
histograms, bigram partial counts, per-doc weights), so the rows they
emit are bounded by |buckets| / |batch vocabulary| / |docs| — far
smaller than the exploded gram stream.

Reference parity: the reference engine has no corpus-dedup layer; these
back the LLM-pipeline operators (SURVEY §2 extension set).
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WS = re.compile(r"\s+", re.ASCII)

# memo cap: synthetic + natural corpora alike repeat grams heavily
# (Zipf); 1M entries ≈ tens of MB per executor-core, bounded.
_MEMO_CAP = 1_000_000


def _hash_memo():
    """Per-task memoized hash48: gram string → int.  The closure lives
    for the whole task, so the cache spans Arrow batches."""
    cache: dict[str, int] = {}

    def h(g: str, _c=cache, _md5=hashlib.md5) -> int:
        v = _c.get(g)
        if v is None:
            v = int.from_bytes(_md5(g.encode("utf-8")).digest()[:6], "big")
            if len(_c) < _MEMO_CAP:
                _c[g] = v
        return v

    return h


def _toks(t: str | None) -> list[str] | None:
    """Java-split-parity tokenizer (see module docstring)."""
    if t is None:
        return None
    return _WS.split(t.strip(" "))


def _id_type(df: DataFrame, id_col: str) -> str:
    return df.schema[id_col].dataType.simpleString()


def _prepared(df: DataFrame, cols: list[str]) -> DataFrame:
    from benthos_spark.operators.scale import ensure_scan_parallelism
    return ensure_scan_parallelism(df.select(*[F.col(c) for c in cols]))


# ------------------------------------------------------------ streams

def gram_hash_stream(df: DataFrame, text: str = "text",
                     id_col: str = "doc_id", n: int = 5,
                     per_doc_distinct: bool = False) -> DataFrame:
    """(id, gh): 48-bit hashes of all word n-grams per document —
    the kernel form of `explode(word_ngrams(toks, n))` + hash48.

    per_doc_distinct=True dedups WITHIN the kernel (a per-doc set),
    replacing a `.distinct()` — that saves an entire O(gram-stream)
    shuffle at 100 TB, since mapInPandas never splits one input row
    across batches."""
    schema = f"{id_col} {_id_type(df, id_col)}, gh long"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        h = _hash_memo()
        for pdf in batches:
            ids, ghs = [], []
            for i, t in zip(pdf[id_col], pdf[text]):
                tk = _toks(t)
                if tk is None or len(tk) < n:
                    continue
                grams = (" ".join(tk[j:j + n])
                         for j in range(len(tk) - n + 1))
                if per_doc_distinct:
                    hs = {h(g) for g in grams}
                else:
                    hs = [h(g) for g in grams]
                ids.extend([i] * len(hs))
                ghs.extend(hs)
            yield pd.DataFrame({id_col: ids, "gh": ghs})

    return _prepared(df, [id_col, text]).mapInPandas(run, schema=schema)


def _dsir_doc_grams(tk: list[str]) -> Iterator[str]:
    """DSIR gram stream for one doc (Xie et al. 2023,
    arXiv:2302.03169 §3): unigrams (empty-string filtered, mirroring
    the oracle's `WHERE g <> ''`) + word bigrams (all — a bigram with
    an empty member like ' a' survives that filter, since it is not
    the empty string)."""
    for t in tk:
        if t:
            yield t
    for j in range(len(tk) - 1):
        yield tk[j] + " " + tk[j + 1]


def dsir_bucket_hist(df: DataFrame, buckets: int, text: str = "text",
                     id_col: str = "doc_id",
                     cond: Column | None = None) -> DataFrame:
    """Per-bucket gram counts for the DSIR fit: (b, rn[, tn]) with
    b = hash48(gram) % buckets.  The kernel emits ONE histogram per
    Arrow batch (≤ `buckets` rows), so the downstream groupBy-sum
    shuffles O(batches · buckets) tiny rows instead of the full gram
    stream — the map-side combine is total, not per-partition.

    With `cond` (a boolean Column), also returns tn = count over rows
    where cond holds (the single-scan conditional fit)."""
    src = df.select(F.col(id_col), F.col(text),
                    *( [cond.alias("__is_t")] if cond is not None else []))
    from benthos_spark.operators.scale import ensure_scan_parallelism
    src = ensure_scan_parallelism(src)
    with_cond = cond is not None
    schema = ("b int, rn long, tn long" if with_cond
              else "b int, rn long")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        h = _hash_memo()
        for pdf in batches:
            rn = [0] * buckets
            tn = [0] * buckets if with_cond else None
            # null cond ≡ false (as SQL's sum(cast(cond)) skips nulls);
            # x != x guards float-NaN from Arrow's nullable-bool transfer
            flags = ([bool(x) if x is not None and x == x else False
                      for x in pdf["__is_t"]] if with_cond else None)
            for k, t in enumerate(pdf[text]):
                tk = _toks(t)
                if tk is None:
                    continue
                is_t = flags[k] if with_cond else False
                for g in _dsir_doc_grams(tk):
                    b = h(g) % buckets
                    rn[b] += 1
                    if is_t:
                        tn[b] += 1
            out = {"b": list(range(buckets)), "rn": rn}
            if with_cond:
                out["tn"] = tn
            yield pd.DataFrame(out)

    hist = src.mapInPandas(run, schema=schema)
    aggs = [F.sum("rn").alias("rn")]
    if with_cond:
        aggs.append(F.sum("tn").alias("tn"))
    return hist.groupBy("b").agg(*aggs)


def dsir_weight_stream(df: DataFrame, logratios: list[int],
                       text: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, dsir_weight): per-document Σ logratios[hash48(g)%buckets]
    over the DSIR gram stream, computed entirely in the kernel —
    map-only, one output row per input document (docs with a null or
    gram-less text get weight 0).  Python int sums are exact, so the
    result is the same order-free integer the oracle SQL aggregates."""
    buckets = len(logratios)
    schema = f"{id_col} {_id_type(df, id_col)}, dsir_weight long"
    lr = list(logratios)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        h = _hash_memo()
        for pdf in batches:
            ws = []
            for t in pdf[text]:
                tk = _toks(t)
                w = 0
                if tk is not None:
                    for g in _dsir_doc_grams(tk):
                        w += lr[h(g) % buckets]
                ws.append(w)
            yield pd.DataFrame({id_col: pdf[id_col], "dsir_weight": ws})

    return _prepared(df, [id_col, text]).mapInPandas(run, schema=schema)


def bigram_partial_counts(df: DataFrame, text: str = "text") -> DataFrame:
    """(bg, n): corpus bigram counts with the count map-side-combined
    INSIDE the kernel (a Counter per Arrow batch), so the shuffle
    carries one row per distinct bigram per batch instead of the full
    exploded stream.  Keys are the bigram STRINGS (the LM join key)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        from collections import Counter
        for pdf in batches:
            c: Counter = Counter()
            for t in pdf[text]:
                tk = _toks(t)
                if tk is None or len(tk) < 2:
                    continue
                c.update(tk[j] + " " + tk[j + 1]
                         for j in range(len(tk) - 1))
            yield pd.DataFrame({"bg": list(c.keys()),
                                "n": list(c.values())})

    return (_prepared(df, [text]).mapInPandas(run, schema="bg string, n long")
            .groupBy("bg").agg(F.sum("n").alias("nbg")))


def unigram_bigram_partial_counts(df: DataFrame,
                                  text: str = "text") -> DataFrame:
    """(g, is_bi, n): corpus unigram AND bigram counts from ONE kernel
    pass over the text (r9) — bigram_lm_score previously paid two full
    corpus scans for its two count tables (a JVM explode+groupBy for
    unigrams plus this module's bigram kernel); fused, the text crosses
    the Python boundary once and ONE shuffle (map-side-combined per
    batch, like bigram_partial_counts) carries both tables, which every
    downstream broadcast then shares through ReuseExchange.

    Bit-exact contracts preserved: unigram rows count non-empty tokens
    (== unigram_counts' `token != ''` filter over the parity
    tokenizer), bigram rows are the verbatim bigram_partial_counts
    semantics (adjacent UNfiltered tokens, so empty members still form
    grams like ' a').  Unigrams never contain whitespace and bigrams
    always do, but rows carry `is_bi` anyway so consumers never rely
    on that."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        from collections import Counter
        for pdf in batches:
            cu: Counter = Counter()
            cb: Counter = Counter()
            for t in pdf[text]:
                tk = _toks(t)
                if tk is None:
                    continue
                cu.update(x for x in tk if x != "")
                if len(tk) >= 2:
                    cb.update(tk[j] + " " + tk[j + 1]
                              for j in range(len(tk) - 1))
            yield pd.DataFrame(
                {"g": list(cu.keys()) + list(cb.keys()),
                 "is_bi": [False] * len(cu) + [True] * len(cb),
                 "n": list(cu.values()) + list(cb.values())})

    return (_prepared(df, [text])
            .mapInPandas(run, schema="g string, is_bi boolean, n long")
            .groupBy("g", "is_bi").agg(F.sum("n").alias("n")))


# ------------------------------------------------------------ bloom

def _bloom_doc_positions(tk: list[str], n: int, m: int, k: int, h):
    """Per-gram k salted positions (classic explicit-salt Bloom:
    hash48('bl{i}#' + gram) % m, see dedup.bloom_build)."""
    for j in range(len(tk) - n + 1):
        g = " ".join(tk[j:j + n])
        yield [h(f"bl{i}#" + g) % m for i in range(k)]


def bloom_position_stream(df: DataFrame, text: str = "text",
                          n: int = 5, m: int = 1 << 18,
                          k: int = 3) -> DataFrame:
    """(pos): the distinct Bloom bit positions of every reference
    n-gram — kernel form of bloom_build's explode chain.  Positions
    are deduped per batch (a set), so the final `.distinct()` shuffles
    ≤ m rows per batch."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        h = _hash_memo()
        for pdf in batches:
            seen: set[int] = set()
            for t in pdf[text]:
                tk = _toks(t)
                if tk is None or len(tk) < n:
                    continue
                for ps in _bloom_doc_positions(tk, n, m, k, h):
                    seen.update(ps)
            yield pd.DataFrame({"pos": sorted(seen)})

    return (_prepared(df, [text])
            .mapInPandas(run, schema="pos long").distinct())


def bloom_flag_counts(corpus: DataFrame, bloom_set: "object",
                      text: str = "text", id_col: str = "doc_id",
                      n: int = 5, m: int = 1 << 18,
                      k: int = 3) -> DataFrame:
    """(id, n_flagged_grams) for flagged docs only: count grams whose
    k salted positions are ALL in `bloom_set` (a broadcast Python
    frozenset of ≤ m ints — 2^18 positions ≈ 2 MB, bounded by the
    filter width by construction, same driver-size argument as the IVF
    centroid literals).  Entirely map-only: the corpus side never
    shuffles and never even emits unflagged docs."""
    schema = f"{id_col} {_id_type(corpus, id_col)}, n_flagged_grams long"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        h = _hash_memo()
        bs = bloom_set.value if hasattr(bloom_set, "value") else bloom_set
        salts = [f"bl{i}#" for i in range(k)]
        for pdf in batches:
            ids, ns = [], []
            for i, t in zip(pdf[id_col], pdf[text]):
                tk = _toks(t)
                if tk is None or len(tk) < n:
                    continue
                c = 0
                for j in range(len(tk) - n + 1):
                    g = " ".join(tk[j:j + n])
                    # probe-by-probe with early exit: a clean gram
                    # usually misses on the FIRST probe, skipping the
                    # remaining k-1 salted hashes entirely
                    for s in salts:
                        if h(s + g) % m not in bs:
                            break
                    else:
                        c += 1
                if c:
                    ids.append(i)
                    ns.append(c)
            yield pd.DataFrame({id_col: ids, "n_flagged_grams": ns})

    return _prepared(corpus, [id_col, text]).mapInPandas(run, schema=schema)


# ------------------------------------------------------- repetition

def repetition_stats(df: DataFrame, text: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(id, dup_line_frac, top_2gram_frac, top_3gram_frac): the Gopher
    repetition signals computed per document INSIDE the kernel — zero
    shuffle (a Column plan needs explode → two hash-aggregates →
    pivot → join back).

    Bit-exactness: rounding matches Spark's round(x, 6) exactly via
    Decimal HALF_UP on the double's decimal expansion (Python round()
    is banker's — NOT equivalent); fractions are single IEEE divisions
    of exact integer counts, identical on both engines."""
    from decimal import ROUND_HALF_UP, Decimal

    schema = (f"{id_col} {_id_type(df, id_col)}, dup_line_frac double, "
              "top_2gram_frac double, top_3gram_frac double")
    _Q = Decimal("0.000001")

    def r6(x: float) -> float:
        # Decimal(repr(x)), NOT Decimal(x): Spark's round(x, 6) goes
        # through the double's SHORTEST round-trip decimal repr
        # (BigDecimal(Double) -> Double.toString), which Python repr()
        # reproduces.  Decimal(x) expands the exact binary fraction and
        # diverges on tie inputs, e.g. 3/640 = 0.0046875: repr-path
        # rounds to 0.004688 (matching Spark), exact-path to 0.004687.
        return float(Decimal(repr(x)).quantize(_Q, rounding=ROUND_HALF_UP))

    def top_frac(tk: list[str], n: int) -> float:
        from collections import Counter
        total = len(tk) - n + 1
        if total <= 0:
            return 0.0
        c = Counter(" ".join(tk[j:j + n]) for j in range(total))
        return r6(max(c.values()) / total)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            dup, t2, t3 = [], [], []
            for t in pdf[text]:
                if t is None:
                    dup.append(0.0)
                    t2.append(0.0)
                    t3.append(0.0)
                    continue
                lines = [l for l in (x.strip(" ") for x in t.split("\n"))
                         if l != ""]
                dup.append(r6(1.0 - len(set(lines)) / len(lines))
                           if lines else 0.0)
                tk = _toks(t)
                t2.append(top_frac(tk, 2))
                t3.append(top_frac(tk, 3))
            yield pd.DataFrame({id_col: pdf[id_col],
                                "dup_line_frac": dup,
                                "top_2gram_frac": t2,
                                "top_3gram_frac": t3})

    return _prepared(df, [id_col, text]).mapInPandas(run, schema=schema)
