"""Fused tokenize → n-gram partial-count pass (guide §2.3/§4.2).

Corpus n-gram counting never needs the (doc, position) relation the
posexplode + lead-window shape materializes: grams are doc-local, and
a count is a sum of per-batch partial counts. This mapper tokenizes
with the parity-pinned Python twin and emits ONE partial-count row per
(width, gram) per Arrow batch — the map-side pre-aggregation the
window path denies Spark (the window forces a corpus-wide shuffle+sort
BEFORE any aggregation; here the only exchange carries gram-vocabulary
partials). JDK-17 regex runs one thread at a time inside a JVM, so
tokenizing in the Python workers is itself a throughput win — the
same reasoning as the index build's term_frequencies_fused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig


def gram_partial_counts(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    widths: tuple[int, ...] = (2,),
) -> DataFrame:
    """(width, gram, pn): per-batch partial counts of contiguous
    space-joined ``width``-grams over the tokenized corpus — sum ``pn``
    per gram to get the exact corpus counts. One fused pass for ALL
    requested widths."""
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(docs.sparkSession)
    if cfg.lang_filter and "lang" in docs.columns:
        docs = docs.filter(F.col("lang") == cfg.lang_filter)
    min_len, stop = cfg.min_token_len, cfg.stopwords
    ws = tuple(widths)

    def batches(it):
        from collections import Counter

        import pandas as pd

        from keywords4cv_spark.textprep.normalize import tokenize

        for pdf in it:
            counters = {w: Counter() for w in ws}
            for t in pdf["text"]:
                tk = tokenize(t, min_len, stop)
                for w in ws:
                    c = counters[w]
                    if w == 1:
                        c.update(tk)
                    elif len(tk) >= w:
                        c.update(
                            " ".join(tk[i : i + w])
                            for i in range(len(tk) - w + 1)
                        )
            out_w, out_g, out_n = [], [], []
            for w in ws:
                c = counters[w]
                out_w.extend([w] * len(c))
                out_g.extend(c.keys())
                out_n.extend(c.values())
            if out_g:
                yield pd.DataFrame(
                    {
                        "width": pd.array(out_w, dtype="int32"),
                        "gram": out_g,
                        "pn": pd.array(out_n, dtype="int64"),
                    }
                )

    return docs.select("text").mapInPandas(
        batches, "width int, gram string, pn long"
    )


def gram_counts(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    width: int = 2,
) -> DataFrame:
    """(gram, n): exact corpus counts of one gram width."""
    return (
        gram_partial_counts(docs, cfg, (width,))
        .groupBy("gram")
        .agg(F.sum("pn").alias("n"))
    )
