"""Text analysis operators over document tables.

All pure Column expressions (JVM codegen, no Python UDFs) so they run at
scan speed over 100 TB — the per-document cost is a few regexes and an
array fold.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne-ish prime keeps the polynomial fold inside int64 under ANSI
# arithmetic (max acc*31+255 < 2^35) in Spark AND DuckDB (oracle).
HASH_PRIME = 1_000_000_007

_STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "it",
              "that", "for", "on", "with", "as", "at", "by"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the baseline tokenizer)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish regex token count: words, numbers, and single
    punctuation marks counted separately (GPT-2-style pre-tokenizer
    shape, public regex idiom)."""
    return F.size(F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def char_hash(token: Column) -> Column:
    """Portable polynomial hash of a string: fold (acc*31 + ascii(char))
    mod HASH_PRIME.  Chosen over xxhash64 where cross-engine
    reproducibility matters (oracle checks); xxhash64 remains the
    fast path for engine-internal keys."""
    return F.aggregate(
        F.split(token, ""), F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % HASH_PRIME)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: rolling polynomial hash over whitespace
    tokens — order-sensitive, so re-ordered documents differ (unlike a
    bag-of-words hash)."""
    return F.aggregate(
        tokens(text), F.lit(0).cast("long"),
        lambda acc, tok: (acc * 131 + char_hash(tok)) % HASH_PRIME)


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are English stopwords.

    The stopword count is a single whole-stage-codegen regexp pass
    (whitespace-delimited exact-token alternation over the lowered
    text) rather than transform+filter higher-order functions, which
    Spark evaluates interpreted per element — same values, ~30%
    faster on a 50k-doc scan."""
    n = F.size(tokens(text))
    pat = r"(?<=^|\s)(" + "|".join(_STOPWORDS) + r")(?=\s|$)"
    sw = F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))
    return F.when(n > 0, sw.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + healthy
    stopword presence + low punctuation noise.  Weights are the usual
    public-recipe shape (Gopher/C4-style length & symbol filters)."""
    n_tok = token_count(text).cast("double")
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = stopword_ratio(text)
    sw_ok = F.when((sw >= 0.01) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    punct = punct_ratio(text)
    punct_ok = F.when(punct <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((0.4 * len_ok + 0.4 * sw_ok + 0.2 * punct_ok), 6)


# Per-language marker lexicons (high-frequency function words, the
# public stopword sets every toolkit ships).  A deterministic
# hit-count heuristic — coarse by design (COVERAGE.md documents the
# limits; swap in fastText/CLD3 behind the same column contract for
# production routing).  Words shared across languages (de/la/en/que…)
# are fine: ID goes to the highest TOTAL hit count, ties break by
# language-code order.
_LANG_MARKERS = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein",
           "eine", "auf", "für", "den", "von", "sich", "des", "dem",
           "auch", "werden", "aber", "aus", "durch", "wenn", "nur",
           "war", "noch"],
    "en": ["the", "and", "of", "to", "is", "in", "that", "was", "for",
           "with", "are", "this", "have", "from", "not", "they",
           "which", "were", "been", "their", "would", "there", "what",
           "about", "when"],
    "es": ["el", "la", "de", "que", "y", "los", "las", "del", "por",
           "con", "una", "para", "como", "más", "pero", "sus", "fue",
           "ser", "entre", "cuando", "muy", "sin", "sobre", "también",
           "hasta"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "dans", "qui",
           "que", "pour", "pas", "sur", "une", "par", "plus", "avec",
           "son", "ont", "mais", "nous", "comme", "aux", "été",
           "cette"],
    "it": ["il", "di", "che", "la", "per", "non", "con", "del", "una",
           "sono", "della", "nel", "alla", "più", "anche", "come",
           "dal", "gli", "questo", "hanno", "essere", "dei", "alle",
           "stato", "quando"],
    "nl": ["de", "het", "een", "van", "en", "dat", "niet", "zijn",
           "voor", "met", "als", "maar", "aan", "ook", "naar", "door",
           "over", "bij", "nog", "uit", "wordt", "worden", "heeft",
           "deze", "geen"],
    "pt": ["de", "que", "não", "uma", "para", "com", "dos", "como",
           "mas", "foi", "das", "ele", "tem", "seu", "sua", "mais",
           "pelo", "pela", "são", "quando", "muito", "nos", "já",
           "também", "isso"],
}


# Unicode-script shortcuts: scripts that identify a language (or a
# tight language family) without a classifier.  (start, end, code).
_SCRIPT_RANGES = (
    (0x3040, 0x30FF, "ja"),    # hiragana + katakana
    (0xAC00, 0xD7AF, "ko"),    # hangul syllables
    (0x0600, 0x06FF, "ar"),
    (0x0590, 0x05FF, "he"),
    (0x0370, 0x03FF, "el"),
    (0x0900, 0x097F, "hi"),    # devanagari
    (0x0E00, 0x0E7F, "th"),
    (0x4E00, 0x9FFF, "zh"),    # han (AFTER kana: ja text mixes both)
)


def lang_id_model(text: Column, default: str = "unknown",
                  min_conf: float = 0.3) -> Column:
    """Language ID via a trained hashed char-n-gram softmax — the
    primary classifier (llm/langid_model.py, trained offline by
    tools/train_langid.py on a public-knowledge corpus; same column
    contract as the heuristic `lang_id`).

    Two tiers inside one Arrow-batched kernel: unambiguous Unicode
    scripts (kana→ja, hangul→ko, arabic/hebrew/greek/devanagari/thai,
    han→zh) short-circuit; Latin/Cyrillic text goes through the
    12-language softmax, `default` below `min_conf` confidence.

    100 TB shape: map-only pandas_udf; the weight matrix (~50 KB) is
    a closure constant shipped once per executor — no broadcast join,
    no shuffle.  The zero-Python fallback remains `lang_id`."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from benthos_spark.llm.langid_model import load_weights
    W, b = load_weights()
    classify_one = _make_langid_classifier(W, b, default, min_conf)

    @pandas_udf("string")
    def run(s):
        return pd.Series([classify_one(t) for t in s])

    return run(text)


def _make_langid_classifier(W, b, default: str, min_conf: float):
    """Builds the per-string classifier closure used by
    `lang_id_model`'s pandas_udf; module-level so the edge-case tests
    (lone surrogates, astral letters) can call it directly."""
    from benthos_spark.llm.langid_model import D, LANGS, NGRAMS

    def classify_one(t: str) -> str:
        """Vectorized twin of the original per-char implementation —
        same decisions on every input.  Tier 1 runs as numpy ops over
        the sample's codepoints (the per-char Python loop was ~7
        µs/char); tier 2 keeps the crc32 gram loop but slices a
        zero-copy memoryview of the UTF-8 bytes (byte == char offsets
        for ASCII text; non-ASCII falls back to char slicing, which
        is what the original always did) and accumulates gram counts
        via bincount — identical float32 values, since counts ≤ 1600
        are exact integers well under 2^24 regardless of accumulation
        order."""
        import zlib as _z

        import numpy as np
        if not t or not t.strip():
            return default
        # tier 1: script ranges over a bounded prefix
        sample = t[:400]
        try:
            cps = np.frombuffer(sample.encode("utf-32-le"), dtype="<u4")
        except UnicodeEncodeError:
            # lone surrogates can't encode; the per-codepoint path
            # matches the original ord() loop (surrogates are
            # non-alpha in the 65k table, same as chr().isalpha())
            cps = np.fromiter((ord(c) for c in sample),
                              dtype=np.uint32, count=len(sample))
        alpha = _alpha_table()
        bmp = cps < 0x10000
        letters = int(alpha[cps[bmp]].sum())
        if not bmp.all():  # astral plane: rare; exact per-char check
            letters += sum(1 for cp in cps[~bmp] if chr(cp).isalpha())
        if letters == 0:
            return default
        # ranges are disjoint, so per-range membership counts equal
        # the original first-match-wins loop; checked in range order
        for lo, hi, code in _SCRIPT_RANGES:
            cnt = int(((cps >= lo) & (cps <= hi)).sum())
            if cnt > 0.3 * letters:
                return code
        # tier 2: hashed-ngram softmax.  For ASCII text (byte offsets
        # == char offsets) all window CRCs come from the table-driven
        # DP vectorized over every window at once (_crc32_windows —
        # verified equal to zlib.crc32 byte-for-byte); non-ASCII text
        # keeps the original per-gram char-slice loop.
        s = " " + " ".join(sample.lower().split()) + " "
        ls = len(s)
        if s.isascii():
            bb = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
            parts = [_crc32_windows(bb, n) % np.uint32(D)
                     for n in NGRAMS if ls - n + 1 > 0]
            idxs = (np.concatenate(parts).astype(np.int64)
                    if parts else np.zeros(0, dtype=np.int64))
        else:
            py = []
            for n in NGRAMS:
                # errors="replace": lone surrogates have no UTF-8
                # form; '?' keeps the gram deterministic (the pre-r9
                # loop raised here too — any total behavior is new)
                py.extend(
                    _z.crc32(s[i:i + n].encode("utf-8", "replace")) % D
                    for i in range(ls - n + 1))
            idxs = np.asarray(py, dtype=np.int64)
        if len(idxs) == 0:
            return default
        x = np.bincount(idxs, minlength=D).astype(np.float32)
        nrm = float(np.linalg.norm(x))
        if nrm == 0.0:
            return default
        x /= nrm
        z = x @ W + b
        z -= z.max()
        p = np.exp(z)
        p /= p.sum()
        best = int(p.argmax())
        # "xx" is the trained noise class — it IS the unknown signal
        if LANGS[best] == "xx" or float(p[best]) < min_conf:
            return default
        return LANGS[best]

    return classify_one


# Lazy per-process str.isalpha() table for the BMP — built once per
# Python worker (~15 ms), reused across tasks via worker reuse; the
# module-global survives because this module is shipped by import,
# not pickled by value (guide §4.5).
_ALPHA_BMP = None


def _alpha_table():
    global _ALPHA_BMP
    if _ALPHA_BMP is None:
        import numpy as np
        _ALPHA_BMP = np.fromiter(
            (chr(i).isalpha() for i in range(0x10000)),
            dtype=bool, count=0x10000)
    return _ALPHA_BMP


# zlib's reflected CRC-32 table (poly 0xEDB88320) — built once per
# process for the vectorized all-windows CRC below.
_CRC_TABLE = None


def _crc_table():
    global _CRC_TABLE
    if _CRC_TABLE is None:
        import numpy as np
        t = np.zeros(256, dtype=np.uint32)
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ (0xEDB88320 if (c & 1) else 0)
            t[i] = c
        _CRC_TABLE = t
    return _CRC_TABLE


def _crc32_windows(b, n: int):
    """zlib.crc32 of EVERY length-n window of uint8 array `b`, as one
    vectorized table-driven DP: n steps, each a whole-array table
    lookup — byte-for-byte equal to per-window zlib.crc32 (the same
    init 0xFFFFFFFF / reflected-table / final-xor algorithm), ~100×
    fewer Python operations than slicing each gram."""
    import numpy as np
    T = _crc_table()
    w = len(b) - n + 1
    states = np.full(w, 0xFFFFFFFF, dtype=np.uint32)
    for j in range(n):
        states = ((states >> np.uint32(8))
                  ^ T[(states ^ b[j:j + w]) & np.uint32(0xFF)])
    return states ^ np.uint32(0xFFFFFFFF)


def lang_id(text: Column, default: str = "unknown") -> Column:
    """Language ID via marker-word hit counts — the zero-Python,
    column-pure FALLBACK (scan-speed, SQL-oracle-expressible).  For
    real corpora prefer `lang_id_model` (trained classifier, same
    contract).  Returns the language with the most marker hits; ties
    broken by language-code order for determinism."""
    toks = F.transform(tokens(text), F.lower)

    def marker_hits(words: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(words)))

    scores = [(lang, marker_hits(words))
              for lang, words in sorted(_LANG_MARKERS.items())]
    best = None
    best_score = F.lit(0)
    for lang, score in scores:
        best_score = F.greatest(best_score, score)
    expr = F.lit(default)
    for lang, score in reversed(scores):
        expr = F.when((score == best_score) & (best_score > 0),
                      F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------- PII scrub

# Patterns stay in the RE2 ∩ java.util.regex common subset (no
# lookaround) so the DuckDB oracle can run the identical regexes.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,14}\d\b", "<PHONE>"),
    ("cc", r"\b(?:\d{4}[ -]){3}\d{4}\b", "<CC>"),
)


def scrub_pii(text: Column) -> Column:
    """Redact PII spans (training-data hygiene pass). Order matters:
    credit cards before phones (a CC is also a phone-shaped digit run);
    emails before IPs never conflict but keep one canonical order."""
    out = text
    for name in ("email", "cc", "phone", "ipv4"):
        pat, rep = next((p, r) for n, p, r in PII_PATTERNS if n == name)
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category match counts (pre-redaction), for audit metrics."""
    return {name: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
            for name, pat, _ in PII_PATTERNS}


# ---------------------------------------------------------- repetition
# Gopher-style repetition signals (Rae et al. 2021 §A1.1; also used by
# C4/RefinedWeb filtering): highly repetitive documents are low-quality
# boilerplate.  All three are MAP-ONLY — one Arrow kernel pass, zero
# shuffle — so at 100 TB they cost one scan.

def nonempty_lines(text: Column) -> Column:
    """Trimmed non-empty lines of the document.

    nb: `lambda l: F.trim(l)`, NOT bare `F.trim` — F.trim's Python
    signature has an optional second param (the trim string), so
    F.transform would take it as the (element, index) overload and
    silently pass the array INDEX as the trim string (no trimming at
    all)."""
    return F.filter(F.transform(F.split(text, "\n"),
                                lambda l: F.trim(l)),
                    lambda l: l != "")


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams ([] when fewer than n tokens).

    One slice+array_join per gram — NOT n element_at calls — because
    the transform lambda runs interpreted and every reference to `toks`
    inside it is re-evaluated per gram.  If `toks` is an unmaterialized
    expression (e.g. split(text)), Catalyst's CollapseProject inlines
    it into the lambda and tokenization reruns PER GRAM: O(len²) per
    doc, measured 22× slower at sf0.1.  Callers must pass a
    materialized array — see materialize_cols."""
    return F.when(F.size(toks) >= n,
                  F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1),
                              lambda i: F.array_join(
                                  F.slice(toks, i, n), " "))) \
        .otherwise(F.array().cast("array<string>"))


def materialize_cols(df: DataFrame, **cols: Column) -> DataFrame:
    """Project `cols` through a Generate node (explode of a one-element
    array) so CollapseProject cannot inline their defining expressions
    into downstream lambda bodies.  Unlike a repartition barrier this
    ships zero bytes — the corpus is NOT shuffled — so it's the right
    barrier before per-gram transforms at 100 TB.  (groupBy
    aggregations also act as barriers; use this when the pipeline has
    no natural aggregation.)"""
    names = list(cols)
    packed = F.explode(F.array(F.struct(
        *[c.alias(n) for n, c in cols.items()]))).alias("__m")
    out = df.select("*", packed)
    for n in names:
        out = out.withColumn(n, F.col(f"__m.{n}"))
    return out.drop("__m")


def repetition_signals(df: DataFrame, text: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, dup_line_frac, top_2gram_frac, top_3gram_frac) — the
    standard repetition-based quality gate for pre-training corpora.

    All three signals are computed per document inside one mapInPandas
    pass (llm.grams.repetition_stats) — ZERO shuffle, bit-identical to
    the oracle SQL (Decimal HALF_UP matches Spark's round).  An
    explode → count → pivot Column plan needs two doc_id-keyed
    shuffles and a join back (at sf1 on 4 vCPU: 14.8 s as Columns,
    3.0 s with the kernel)."""
    from benthos_spark.llm.grams import repetition_stats
    return repetition_stats(df, text, id_col)


# ---------------------------------------------------------------- gopher

# the 8 marker words of the published Gopher stop-word rule
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_signals(text: Column, min_words: int = 50,
                   max_words: int = 100_000) -> Column:
    """The published Gopher document-quality rules (Rae et al. 2021,
    public recipe) as one struct of booleans — every signal is a pure
    Column expression (regex + array folds), so the filter runs at
    scan speed with zero Python:

      word_count_ok   min_words ≤ #words ≤ max_words
      mean_wl_ok      mean word length in [3, 10]
      symbol_ok       (# + ellipsis) per word ≤ 0.1
      bullet_ok       ≤ 90% of lines start with a bullet
      ellipsis_ok     ≤ 30% of lines end with an ellipsis
      alpha_ok        ≥ 80% of words contain a letter
      stops_ok        ≥ 2 of the 8 Gopher stop words present
      keep            AND of all of the above
    """
    toks = tokens(text)
    n = F.size(toks).cast("double")
    nz = F.greatest(n, F.lit(1.0))  # avoid /0; empty docs fail word_count
    word_count_ok = (n >= min_words) & (n <= max_words)
    mean_wl = F.aggregate(
        F.transform(toks, F.length),
        F.lit(0).cast("long"), lambda a, x: a + x).cast("double") / nz
    mean_wl_ok = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    hashes = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    dots = (F.length(text)
            - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    symbol_ok = (hashes + dots).cast("double") / nz <= 0.1
    lines = nonempty_lines(text)
    nl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = F.size(F.filter(
        lines, lambda l: l.rlike(r"^[-*•]"))).cast("double") / nl
    ellipsis_frac = F.size(F.filter(
        lines, lambda l: l.endswith("..."))).cast("double") / nl
    bullet_ok = bullet_frac <= 0.9
    ellipsis_ok = ellipsis_frac <= 0.3
    alpha_ok = (F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
                .cast("double") / nz >= 0.8)
    low = F.transform(toks, F.lower)
    stops_ok = F.size(F.array_intersect(
        F.array_distinct(low),
        F.array(*[F.lit(s) for s in _GOPHER_STOPS]))) >= 2
    keep = (word_count_ok & mean_wl_ok & symbol_ok & bullet_ok
            & ellipsis_ok & alpha_ok & stops_ok)
    return F.struct(
        word_count_ok.alias("word_count_ok"),
        mean_wl_ok.alias("mean_wl_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stops_ok.alias("stops_ok"),
        keep.alias("keep"))


def gopher_quality_filter(df: DataFrame, text: str = "text",
                          min_words: int = 50,
                          max_words: int = 100_000) -> DataFrame:
    """Keep documents passing every Gopher rule.  Map-only predicate —
    pushes to the scan like any filter; use gopher_signals directly to
    audit which rule dropped a document."""
    return df.filter(
        gopher_signals(F.col(text), min_words, max_words)["keep"])


# ---------------------------------------------------------------- C4 recipe

def c4_clean_lines(text: Column, min_words: int = 5) -> Column:
    """The C4 line-retention rules (Raffel et al. 2020, the published
    recipe): keep a line only when it (a) ends in terminal punctuation
    (. ! ? or a closing double quote), (b) has at least `min_words`
    words, and (c) does not mention javascript / cookie / policy
    boilerplate (case-insensitive).  Pure Column array pipeline —
    split, filter, nothing leaves the JVM."""
    return F.filter(
        nonempty_lines(text),
        lambda l: l.rlike(r'[.!?"]$')
        & (F.size(F.split(l, r"\s+")) >= min_words)
        & ~F.lower(l).rlike("javascript|cookie|privacy policy"))


def c4_document_signals(text: Column, min_words: int = 5,
                        min_lines: int = 3) -> Column:
    """Document-level C4 verdict struct:

      cleaned      the retained lines re-joined with newlines
      n_kept       how many lines survived
      has_lorem    page mentions "lorem ipsum" (drop)
      has_brace    page contains "{" (code/templating; drop)
      keep         n_kept ≥ min_lines AND no page-level tripwire
    """
    kept = c4_clean_lines(text, min_words)
    n_kept = F.size(kept)
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_brace = text.contains("{")
    keep = (n_kept >= min_lines) & ~has_lorem & ~has_brace
    return F.struct(
        F.array_join(kept, "\n").alias("cleaned"),
        n_kept.alias("n_kept"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("keep"))


def c4_clean(df: DataFrame, text: str = "text", min_words: int = 5,
             min_lines: int = 3) -> DataFrame:
    """C4 page cleaning as a map-only transform: drop tripwire pages,
    keep only the retained lines of the rest.  Filters and the line
    pipeline are all scan-speed Column expressions — the 100 TB cost
    is the scan itself."""
    sig = c4_document_signals(F.col(text), min_words, min_lines)
    return (df.withColumn("__c4", sig)
              .filter(F.col("__c4.keep"))
              .withColumn(text, F.col("__c4.cleaned"))
              .drop("__c4"))


def boilerplate_line_strip(df: DataFrame, text: str = "text",
                           id_col: str = "doc_id",
                           group: str = "source",
                           max_df_frac: float = 0.05,
                           min_df: int = 3,
                           max_lines_per_group: int = 20000,
                           check_cap: bool = False) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet/RefinedWeb idea at
    line granularity): a line that appears verbatim in more than
    `max_df_frac` of the documents of its `group` (site chrome,
    nav bars, license footers) is stripped from every document.

    100 TB shape: pass 1 explodes per-doc DISTINCT lines (the line
    column, not the doc, crosses the wire) and one groupBy on
    (group, line) counts document frequency; the surviving frequent-
    line set is TINY by construction (lines repeated across ≥min_df
    docs and ≥max_df_frac of their group), so pass 2 broadcast-joins
    one array of boilerplate lines per group onto the docs and strips
    them with an in-place array filter — the corpus is scanned twice
    but NEVER hash-shuffled, and line order is preserved for free
    (no explode/reassemble of the output side).

    `max_lines_per_group` (r7 verdict ask #8) bounds the broadcast: a
    pathological group where every doc shares tens of thousands of
    lines would otherwise bloat the per-group set.  The cap keeps the
    top-N by (document frequency DESC, line ASC) — deterministic, and
    it keeps the WORST offenders, so what it drops is the least-
    frequent tail of the boilerplate set.  `check_cap=True` runs one
    extra tiny aggregation over the (group, line) df table (eager, so
    OFF by default — the default plan stays two-scan/zero-corpus-
    shuffle as pinned by tests/test_plan_scale.py) and warns with the
    affected groups when the cap truncated any of them."""
    # per-doc line dedup happens MAP-SIDE (array_distinct before the
    # explode) so document frequency needs no (doc, line) distinct
    # exchange — the only full-line shuffle left is the df groupBy,
    # and partial aggregation combines it map-side
    lines = (df.select(F.col(group),
                       F.explode(F.array_distinct(F.filter(
                           F.split(F.col(text), "\n"),
                           lambda l: F.trim(l) != "")))
                       .alias("__line")))
    doc_n = df.groupBy(group).agg(F.count("*").alias("__docs"))
    frequent = (lines
                .groupBy(group, "__line")
                .agg(F.count("*").alias("__df"))
                .join(F.broadcast(doc_n), group)
                .filter((F.col("__df") >= min_df)
                        & (F.col("__df")
                           >= F.col("__docs") * max_df_frac)))
    if max_lines_per_group is not None:
        from pyspark.sql.window import Window
        w = Window.partitionBy(group).orderBy(F.col("__df").desc(),
                                              F.col("__line"))
        ranked = frequent.withColumn("__rk", F.row_number().over(w))
        if check_cap:
            import warnings
            hit = [r[0] for r in ranked
                   .filter(F.col("__rk") > max_lines_per_group)
                   .select(group).distinct().collect()]
            if hit:
                warnings.warn(
                    f"boilerplate_line_strip: frequent-line set capped"
                    f" at {max_lines_per_group} for group(s) {hit!r} —"
                    f" least-frequent tail dropped; raise"
                    f" max_lines_per_group or max_df_frac",
                    RuntimeWarning, stacklevel=2)
        frequent = ranked.filter(F.col("__rk") <= max_lines_per_group) \
                         .drop("__rk")
    bp_sets = (frequent
               .groupBy(group)
               .agg(F.collect_set("__line").alias("__bps")))
    stripped = F.array_join(
        F.filter(F.split(F.col(text), "\n"),
                 lambda l: ~F.coalesce(
                     F.array_contains(F.col("__bps"), l),
                     F.lit(False))), "\n")
    return (df.join(F.broadcast(bp_sets), group, "left")
            .withColumn(text, stripped)
            .drop("__bps"))


# ---------------------------------------------------------------- unigram LM

def unigram_counts(df: DataFrame, text: str = "text") -> DataFrame:
    """Corpus unigram table (token, n): the classic wordcount shape —
    map-side partial aggregation, one shuffle on the token.  At 100 TB
    this is the LM-training pass of a CCNet-style quality pipeline;
    cache/write the result and reuse it across scoring runs."""
    from benthos_spark.operators.scale import ensure_scan_parallelism
    return (ensure_scan_parallelism(df.select(F.col(text)))
            .select(F.explode(tokens(F.col(text))).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token").agg(F.count("*").alias("n")))


def frequency_mass(df: DataFrame, counts: DataFrame | None = None,
                   text: str = "text", id_col: str = "doc_id",
                   min_df: int = 2) -> DataFrame:
    """Corpus-frequency quality signals per document:

      fmass      = Σ corpus_count(token) / (corpus_total · n_tokens)
                   — mean token frequency mass, the integer-exact
                   stand-in for unigram-LM perplexity (higher = the
                   doc uses common vocabulary; gibberish/boilerplate
                   skews low/high respectively);
      rare_ratio = fraction of tokens with corpus count < min_df
                   (OOV/typo rate against the reference corpus).

    Bit-exact across engines by construction: every aggregate is an
    INTEGER sum (order-free), the only float ops are two final
    divisions.  Scale shape: the unigram table broadcast-joins into
    the exploded token stream (vocab ≪ corpus), then one shuffle on
    doc_id re-aggregates; `counts` accepts a precomputed/reference
    vocabulary so new data scores without rescanning the corpus —
    tokens absent from it count as rare with mass 0."""
    # Lazy checkpoint when we built the table ourselves: `c` feeds
    # BOTH the broadcast join and the global-total aggregate, and
    # Catalyst re-runs the scan→explode→groupBy pipeline once per
    # consumer (r10 plan audit: tokenize ran 3× per query).  Vocab-
    # sized — it must fit a broadcast anyway (guide §5).  Caller-
    # provided `counts` (reference vocabularies) are left untouched.
    c = (counts if counts is not None
         else unigram_counts(df, text).localCheckpoint(eager=False))
    tot = c.agg(F.sum("n").alias("__total"))
    tok = (df.select(F.col(id_col),
                     F.explode(tokens(F.col(text))).alias("token"))
           .filter(F.col("token") != ""))
    j = tok.join(F.broadcast(c), "token", "left")
    per = j.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("__mass"),
        F.sum(F.when(F.coalesce(F.col("n"), F.lit(0)) < min_df, 1)
              .otherwise(0)).alias("__rare"))
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col(id_col), F.col("n_tokens"),
                    F.round(F.col("__mass").cast("double")
                            / (F.col("__total") * F.col("n_tokens"))
                            .cast("double"), 9).alias("fmass"),
                    F.round(F.col("__rare").cast("double")
                            / F.col("n_tokens").cast("double"), 9)
                    .alias("rare_ratio")))


def bigram_lm_score(df: DataFrame, text: str = "text",
                    id_col: str = "doc_id",
                    lam: float = 0.5) -> DataFrame:
    """Interpolated bigram language-model likelihood per document (the
    KenLM-style fluency signal of a CCNet-ish quality pipeline,
    integer-exact):

      p(w_i | w_{i-1}) = lam · c(w_{i-1} w_i)/c(w_{i-1})
                         + (1-lam) · c(w_i)/T          (i ≥ 2)
      p(w_1)           = c(w_1)/T

    with counts from the corpus itself.  Each per-token probability is
    a fixed tree of correctly-rounded IEEE ops over integer counts,
    integerized to nano-units BEFORE the per-doc sum — so the score is
    an order-free int64 sum, bit-exact across engines/partitionings.

    Returns (id_col, n_tokens, lm_nano) where lm_nano =
    Σ round(1e9·p_i); mean token likelihood = lm_nano / (1e9·n_tokens).

    Scale shape: ONE kernel pass + ONE shuffle builds both count
    tables (llm.grams.unigram_bigram_partial_counts, per-batch Counter
    pre-aggregation, so the shuffle carries one row per distinct gram
    per batch instead of the exploded stream); scoring joins the token
    stream against them (broadcast when the vocab fits — the same
    head-vocab assumption as frequency_mass) and re-aggregates once on
    doc id."""
    from benthos_spark.llm.grams import unigram_bigram_partial_counts
    toks_df = materialize_cols(df.select(F.col(id_col), F.col(text)),
                               __toks=tokens(F.col(text)))
    # lazy checkpoint: the vocab-sized table materializes ONCE — without
    # it each of the four consumers below (c1 ×2 broadcasts + tot + c2)
    # re-executes the kernel pass (Catalyst does not reuse Python-stage
    # subtrees across broadcast subplans; measured 8 MapInPandas in the
    # un-checkpointed plan).  Scale-safe: this table must fit the
    # broadcasts it feeds.
    counts = unigram_bigram_partial_counts(df, text) \
        .localCheckpoint(eager=False)
    c1 = (counts.filter(~F.col("is_bi"))
          .select(F.col("g").alias("token"), F.col("n")))
    c2 = (counts.filter(F.col("is_bi"))
          .select(F.col("g").alias("bg"), F.col("n").alias("nbg")))
    tot = c1.agg(F.sum("n").alias("__T"))

    # token stream with the previous token riding along (null at pos 1)
    tf_df = materialize_cols(toks_df, __tf=F.filter(F.col("__toks"),
                                                    lambda t: t != ""))
    stream = (tf_df.select(
        F.col(id_col),
        F.posexplode(F.col("__tf")).alias("pos", "w"),
        F.col("__tf").alias("__t"))
        .withColumn("wprev", F.when(F.col("pos") > 0,
                                    F.element_at(F.col("__t"),
                                                 F.col("pos"))))
        .drop("__t"))

    j = (stream
         .join(F.broadcast(c1.withColumnRenamed("token", "w")
                           .withColumnRenamed("n", "cu")), "w")
         .join(F.broadcast(c1.withColumnRenamed("token", "wprev")
                           .withColumnRenamed("n", "cp")),
               "wprev", "left")
         .join(F.broadcast(c2),
               F.concat(F.col("wprev"), F.lit(" "),
                        F.col("w")) == F.col("bg"), "left")
         .join(F.broadcast(tot)))
    uni = F.col("cu").cast("double") / F.col("__T").cast("double")
    bi = (F.coalesce(F.col("nbg"), F.lit(0)).cast("double")
          / F.col("cp").cast("double"))
    p = F.when(F.col("wprev").isNull(), uni) \
        .otherwise(F.lit(lam) * bi + F.lit(1.0 - lam) * uni)
    nano = F.round(p * F.lit(1e9)).cast("long")
    return (j.select(F.col(id_col), nano.alias("__nano"))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("__nano").alias("lm_nano")))
