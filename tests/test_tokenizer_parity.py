"""Tokenizer parity: pure Python == pandas UDF == DuckDB SQL.

This is the byte-identical-per-url invariant from BASELINE.json
input_hint, enforced across every implementation of the frozen
tokenizer (SURVEY.md §5.2a).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from keywords4cv_spark.oracle import norm_sql, tokens_sql
from keywords4cv_spark.textprep.normalize import (
    generate_ngrams,
    normalize_text,
    tokenize,
)
from keywords4cv_spark.textprep.spark_exprs import ngrams_col
from keywords4cv_spark.textprep.udfs import (
    make_ngrams_udf,
    make_normalize_udf,
    make_tokenize_udf,
)

TRICKY = [
    "",
    "   ",
    "the quick BROWN fox",
    "visit https://example.com/page?q=1 now",
    "or www.example.org today",
    "mail me@example.com please",
    "scikit-learn and day-to-day work",
    "what you'll do: lots",
    "* bullet one\n* bullet two\n\n- dash three",
    "tabs\tand\nnewlines\r\nand  doubles",
    "CafÉ crème — naïve résumé",
    "numbers 42 and x1 and 7",
    "a b c single chars",
    "requirements: python, sql; education: bs/ms",
    "trailing-hyphen- -leading",
    "UPPER.lower,MIXED;case",
    "emoji 🚀 rocket",
    "under_score kept_as word",  # \w in reference includes _, ours is a-z0-9: '_' splits
    "repeat repeat repeat",
    "http://a.b c www.d.e f",
]


def test_pure_python_golden():
    assert tokenize("the quick BROWN fox") == ["the", "quick", "brown", "fox"]
    assert tokenize("scikit-learn rocks") == ["scikit", "learn", "rocks"]
    assert tokenize("visit https://x.io now") == ["visit", "now"]
    assert tokenize("a b xy") == ["xy"]
    assert tokenize("the fox", stopwords=frozenset({"the"})) == ["fox"]
    assert generate_ngrams(["a", "b", "c"], 1, 2) == ["a", "b", "c", "a b", "b c"]
    assert generate_ngrams(["a"], 2, 3) == []


def _tricky_tokens(spark):
    """TRICKY as (i, text, toks) with toks from the engine tokenizer."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TRICKY)], "i long, text string")
    return df.withColumn("toks", make_tokenize_udf()(F.col("text")))


def test_spark_exprs_match_python(spark):
    """The JVM-side expression (`ngrams_col`) on Python-tokenized
    arrays equals `generate_ngrams` for every n-gram width range."""
    df = spark.createDataFrame(
        [(i, tokenize(t)) for i, t in enumerate(TRICKY)], "i long, toks array<string>"
    )
    for lo, hi in [(1, 1), (1, 2), (2, 2), (2, 3), (1, 3), (3, 3)]:
        rows = df.select("i", ngrams_col(F.col("toks"), lo, hi).alias("g")).orderBy("i").collect()
        for text, r in zip(TRICKY, rows):
            assert list(r.g) == generate_ngrams(tokenize(text), lo, hi), (lo, hi, repr(text))


def test_pandas_udf_matches_python(spark):
    rows = (
        _tricky_tokens(spark)
        .select("i", make_normalize_udf()(F.col("text")).alias("norm"), "toks")
        .orderBy("i")
        .collect()
    )
    for text, r in zip(TRICKY, rows):
        assert r.norm == normalize_text(text), repr(text)
        assert list(r.toks) == tokenize(text), repr(text)


def test_duckdb_sql_matches_python():
    con = duckdb.connect()
    for text in TRICKY:
        norm, toks = con.execute(
            f"SELECT {norm_sql('?')}, {tokens_sql('?')}",
            [text, text],
        ).fetchone()
        assert norm == normalize_text(text), repr(text)
        assert list(toks) == tokenize(text), repr(text)


def test_ngrams_exprs_match_python(spark):
    rows = (
        _tricky_tokens(spark)
        .select("i", ngrams_col(F.col("toks"), 1, 3).alias("g"))
        .orderBy("i")
        .collect()
    )
    for text, r in zip(TRICKY, rows):
        assert list(r.g) == generate_ngrams(tokenize(text), 1, 3), repr(text)


def test_ngrams_udf_matches_python(spark):
    g = make_ngrams_udf(1, 3)(F.col("toks"))
    rows = (
        _tricky_tokens(spark)
        .select("i", g.alias("g"))
        .orderBy("i")
        .collect()
    )
    for text, r in zip(TRICKY, rows):
        assert list(r.g) == generate_ngrams(tokenize(text), 1, 3), repr(text)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
def test_duckdb_parity_property(text):
    con = duckdb.connect()
    norm, toks = con.execute(
        f"SELECT {norm_sql('?')}, {tokens_sql('?')}", [text, text]
    ).fetchone()
    assert norm == normalize_text(text)
    assert list(toks) == tokenize(text)


def test_real_corpus_parity(spark):
    """Full sf0.001 documents table: pandas UDF == DuckDB SQL == Python."""
    path = "/root/testdata/sf0.001/documents.parquet"
    sdf = spark.read.parquet(path)
    got = {
        r.doc_id: list(r.toks)
        for r in sdf.select(
            "doc_id", make_tokenize_udf()(F.col("text")).alias("toks")
        ).collect()
    }
    con = duckdb.connect()
    oracle = dict(
        con.execute(
            f"SELECT doc_id, {tokens_sql('text')} FROM '{path}'"
        ).fetchall()
    )
    texts = dict(con.execute(f"SELECT doc_id, text FROM '{path}'").fetchall())
    assert set(got) == set(oracle)
    for d in got:
        assert got[d] == list(oracle[d]) == tokenize(texts[d]), d


def test_lemma_exception_fold(spark):
    """The deterministic lemma pass (plural/irregular exception
    dictionary) folds identically in every implementation and only AFTER
    length/stopword filtering."""
    from keywords4cv_spark.textprep.normalize import LEMMA_EXCEPTIONS

    text = "Tables and queries over indices: the children of matrices."
    want = tokenize(text)
    assert "table" in want and "query" in want and "index" in want
    assert "child" in want and "matrix" in want
    assert not any(t in LEMMA_EXCEPTIONS for t in want)
    got_spark = (
        spark.createDataFrame([(text,)], "text string")
        .select(make_tokenize_udf()(F.col("text")).alias("t"))
        .collect()[0]["t"]
    )
    con = duckdb.connect()
    got_duck = con.execute(f"SELECT {tokens_sql('?')}", [text]).fetchone()[0]
    assert list(got_spark) == list(got_duck) == want
    # every exception value satisfies the default min token length
    assert all(len(v) >= 2 for v in LEMMA_EXCEPTIONS.values())
