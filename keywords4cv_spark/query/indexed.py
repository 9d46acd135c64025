"""Index-served search APIs: score explanation, more-like-this and
field collapsing.

Each answers from the committed ``IndexTables`` exactly like
``search_query_strings_indexed`` does — at crawl scale you do not
re-tokenize the corpus to answer one MoreLikeThis request:

- the dictionary probe is the driver-memoized ``lookup_terms`` (zero
  Spark jobs when warm),
- postings are decoded ONLY for the query's term_ids with bucket
  pruning (cost scales with the requested postings, never the corpus),
- per-doc metadata (collapse keys, MLT probe ordering) comes from the
  slim ``docmeta`` table, not a documents scan.

Parity: the index stores the same (term, doc, tf, dl, df, n_docs,
avgdl) relation the tokenize pass produces (build_index's single
tokenize pass), so every score matches the DuckDB oracles of the
``bm25_explain``, ``mlt_topk`` and ``bm25_collapsed_topk`` registry
entries after the engine-wide round(·, 6) (tests/test_driver_contract.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.query.bm25 import (
    SCORE_DECIMALS,
    bm25_idf_col,
    bm25_score_col,
    bm25_tf_norm_col,
    rank_topk,
    round6,
)
from keywords4cv_spark.query.fixtures import TOP_K, query_term_pairs
from keywords4cv_spark.query.parse import _decode_postings

def _qterms_local(
    spark: SparkSession, index, pairs: list[tuple[int, str]]
) -> tuple[DataFrame, list[int]] | None:
    """(query_id, term) pairs resolved through the memoized dictionary
    probe → (broadcastable (query_id, term, term_id, df) frame, local
    term_id list) or None when no pair hits the dictionary."""
    lut = index.lookup_terms([t for _, t in pairs])
    rows = [(qid, t, lut[t][0], lut[t][1]) for qid, t in pairs if t in lut]
    if not rows:
        return None
    qterms = local_rows(
        spark,
        rows, "query_id long, term string, term_id long, df long"
    )
    return qterms, [r[2] for r in rows]


def _with_stats(df: DataFrame, index) -> DataFrame:
    srow = index.stats_row()
    return df.withColumn("n_docs", F.lit(int(srow["n_docs"]))).withColumn(
        "avgdl", F.lit(float(srow["avgdl"]))
    )


def bm25_explain_indexed(
    spark: SparkSession,
    index,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    queries: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """Score decomposition for the top-k hits (the Lucene/Elasticsearch
    ``explain`` API): one postings decode for the query terms, read
    once. A doc's score is a window sum over its per-term rows, and its
    rank a dense rank over (round(score, 6) DESC, doc_id ASC) — the
    (score, doc_id) key is unique per doc, so the dense rank is
    rank_topk's row number over docs. Nothing is cached, so the call
    leaves no persisted relation behind."""
    pairs = queries if queries is not None else query_term_pairs()
    resolved = _qterms_local(spark, index, pairs)
    out_schema = (
        "query_id long, rank int, doc_id long, term string, tf long,"
        " df long, idf double, tf_norm double, contribution double,"
        " score double"
    )
    if resolved is None:
        return spark.createDataFrame([], out_schema)
    qterms, term_ids = resolved
    posts = _decode_postings(spark, index, term_ids)
    per_term = _with_stats(posts.join(F.broadcast(qterms), "term_id"), index)
    per_term = (
        per_term.withColumn("idf", bm25_idf_col())
        .withColumn("tf_norm", bm25_tf_norm_col(cfg))
        .withColumn(
            "score",
            F.round(
                F.sum(F.col("idf") * F.col("tf_norm")).over(
                    Window.partitionBy("query_id", "doc_id")
                ),
                SCORE_DECIMALS,
            ),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        per_term.withColumn("rank", F.dense_rank().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "term",
            "tf",
            "df",
            F.round("idf", SCORE_DECIMALS).alias("idf"),
            F.round("tf_norm", SCORE_DECIMALS).alias("tf_norm"),
            F.round(F.col("idf") * F.col("tf_norm"), SCORE_DECIMALS).alias(
                "contribution"
            ),
            "score",
        )
    )


def more_like_this_indexed(
    spark: SparkSession,
    index,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    n_probes: int = 5,
    n_terms: int = 10,
) -> DataFrame:
    """More-like-this (the Lucene MoreLikeThis query): probe selection is driver-side
    (probe docs are the ``n_probes`` lowest doc_ids of docmeta; their
    texts come from a doc_id-pushdown scan of ``n_probes`` rows and are
    tokenized with the parity-pinned Python twin), interesting-term
    ranking is driver arithmetic over probe-bounded rows, and the one
    corpus-sized step is a postings decode of the ≤ n_probes·n_terms
    selected term_ids."""
    probe_ids = [
        int(r["doc_id"])
        for r in index.docmeta.select("doc_id")
        .orderBy("doc_id")
        .limit(n_probes)
        .collect()
    ]
    out_schema = "query_id long, rank int, doc_id long, score double"
    if not probe_ids:
        return spark.createDataFrame([], out_schema)
    texts = {
        int(r["doc_id"]): r["text"]
        for r in docs.filter(F.col("doc_id").isin(probe_ids))
        .select("doc_id", "text")
        .collect()
    }
    from collections import Counter

    from keywords4cv_spark.textprep.normalize import tokenize

    tf_by_probe = {
        pid: Counter(tokenize(texts.get(pid, ""), cfg.min_token_len, cfg.stopwords))
        for pid in probe_ids
    }
    lut = index.lookup_terms(
        [t for c in tf_by_probe.values() for t in c]
    )
    srow = index.stats_row()
    n = int(srow["n_docs"])
    sel_rows: list[tuple[int, int, int]] = []  # (query_id, term_id, df)
    for pid in probe_ids:
        cands = []
        for t, tf in tf_by_probe[pid].items():
            hit = lut.get(t)
            if hit is None:
                continue
            tid, df = hit
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            cands.append((-round6(tf * idf), t, tid, df))
        cands.sort()
        sel_rows.extend((pid, tid, df) for _, _, tid, df in cands[:n_terms])
    if not sel_rows:
        return spark.createDataFrame([], out_schema)
    sel = local_rows(spark, sel_rows, "query_id long, term_id long, df long")
    posts = _decode_postings(spark, index, sorted({r[1] for r in sel_rows}))
    scored = (
        _with_stats(posts.join(F.broadcast(sel), "term_id"), index)
        .filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("contrib", bm25_score_col(cfg))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return rank_topk(scored, k)


def bm25_collapse_indexed(
    spark: SparkSession,
    index,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    collapse_col: str = "source",
    queries: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """Field collapsing (the Elasticsearch ``collapse`` API), at most one
    hit per (query, collapse key): the scored stream comes from a
    query-term postings decode and the collapse key from the slim
    docmeta table (its ``url`` column is the source url the index was
    built with) — the documents table is never scanned."""
    pairs = queries if queries is not None else query_term_pairs()
    resolved = _qterms_local(spark, index, pairs)
    out_schema = (
        f"query_id long, rank int, doc_id long, {collapse_col} string,"
        " score double"
    )
    if resolved is None:
        return spark.createDataFrame([], out_schema)
    qterms, term_ids = resolved
    posts = _decode_postings(spark, index, term_ids)
    scored = (
        _with_stats(posts.join(F.broadcast(qterms), "term_id"), index)
        .withColumn("contrib", bm25_score_col(cfg))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
        .withColumn("score", F.round(F.col("score"), SCORE_DECIMALS))
    )
    meta = index.docmeta.select("doc_id", F.col("url").alias("ckey"))
    w_grp = Window.partitionBy("query_id", "ckey").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    best = (
        scored.join(meta, "doc_id")
        .withColumn("rn", F.row_number().over(w_grp))
        .filter(F.col("rn") == 1)
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        best.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.col("ckey").alias(collapse_col),
            "score",
        )
    )
