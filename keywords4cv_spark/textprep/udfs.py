"""Vectorized pandas-UDF twins of the frozen tokenizer.

The input_hint mandates pandas/Arrow UDFs (no per-row Python *in
Spark's* execution — the per-element work here happens inside one
Arrow batch on the executor, exactly like the reference's
chunk-at-a-time workers, /root/reference/keywords4cv.py:1694-1702).

``make_tokenize_udf`` is the engine's corpus tokenizer: JDK-17 regex
runs one thread at a time inside a JVM, so Arrow-batched Python
workers scale across cores where JVM regex expressions do not. Output
equals ``normalize.py`` byte for byte (parity-tested against the
Python spec and the DuckDB SQL twin).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from keywords4cv_spark.textprep.normalize import (
    generate_ngrams,
    normalize_text,
    tokenize,
)


def make_normalize_udf():
    @F.pandas_udf(T.StringType())
    def normalize_udf(s: pd.Series) -> pd.Series:
        return s.map(normalize_text)

    return normalize_udf


def make_tokenize_udf(min_token_len: int = 2, stopwords: frozenset[str] = frozenset()):
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tokenize_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda t: tokenize(t, min_token_len, stopwords))

    return tokenize_udf


def make_ngrams_udf(lo: int = 1, hi: int = 3):
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def ngrams_udf(tokens: pd.Series) -> pd.Series:
        return tokens.map(lambda ts: generate_ngrams(list(ts), lo, hi))

    return ngrams_udf


def make_extract_text_udf():
    """html binary -> boilerplate-stripped text (input_hint extract_text).

    Deterministic rule-based extractor (no HTML lib in the image):
    drop <script>/<style>/<nav>/<header>/<footer> blocks, strip all
    remaining tags, unescape the few entities the synthesizer emits,
    collapse whitespace. Byte-identical per url is the invariant the
    corpus synthesizer (sources/corpus.py) is tested against.
    """
    import re

    drop_re = re.compile(
        r"<(script|style|head|nav|header|footer)\b[^>]*>.*?</\1\s*>",
        re.DOTALL | re.IGNORECASE,
    )
    tag_re = re.compile(r"<[^>]+>")
    ws_re = re.compile(r"\s+")
    entities = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&#39;": "'"}

    def extract_one(html: bytes | None) -> str:
        if html is None:
            return ""
        t = html.decode("utf-8", errors="replace")
        t = drop_re.sub(" ", t)
        t = tag_re.sub(" ", t)
        for k, v in entities.items():
            t = t.replace(k, v)
        return ws_re.sub(" ", t).strip()

    @F.pandas_udf(T.StringType())
    def extract_text_udf(html: pd.Series) -> pd.Series:
        return html.map(extract_one)

    return extract_text_udf
