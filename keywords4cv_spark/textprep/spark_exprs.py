"""Spark column-expression n-grams over a tokenized array column.

``ngrams_col`` builds contiguous n-grams with higher-order functions
(transform/slice/sequence), so it stays JVM-side inside whole-stage
codegen with no UDF. Tokenization itself runs in the Arrow pandas UDF
(``udfs.make_tokenize_udf``): JDK-17 regex runs one thread at a time
inside a JVM, so JVM regex tokenize expressions do not scale across
cores. Output must equal ``normalize.generate_ngrams`` element for
element (parity-tested).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ngrams_col(tokens: Column, lo: int = 1, hi: int = 3) -> Column:
    """Contiguous space-joined n-grams via higher-order functions
    (transform/slice/sequence) — stays in codegen, no UDF.

    Prefer passing a materialized column (``withColumn("tokens", ...)``
    then ``F.col("tokens")``) so tokenization runs once, not once per
    n-gram width — though any expression is semantically correct.
    """
    # NB: the per-n lambda must stay single-argument — a `lambda i, n=n:`
    # default arg makes PySpark treat it as the (element, index) form.
    def gram_at(n: int):
        return lambda i: F.concat_ws(" ", F.slice(tokens, i, n))

    parts = []
    for n in range(lo, hi + 1):
        if n == 1:
            parts.append(tokens)
            continue
        grams = F.when(
            F.size(tokens) >= n,
            F.transform(F.sequence(F.lit(1), F.size(tokens) - (n - 1)), gram_at(n)),
        ).otherwise(F.array().cast("array<string>"))
        parts.append(grams)
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)
