"""Relational brute-force BM25 top-k — the correctness oracle scorer.

Pure DataFrame ops (no UDF anywhere): generalizes the reference's
TF-IDF weighting kernel (/root/reference/keywords4cv.py:3200-3221)
into BM25 with k1/b from config. Every expression is JVM-side, so the
whole plan is whole-stage-codegen'd; the query-terms side is a
broadcast join by construction (a handful of rows).

Ranking determinism (SURVEY.md §7.4): raw float sums differ in the
last ulp across partition orders, so ranks are assigned over
``round(score, 6)`` with ``doc_id`` as tie-break — the same rule the
DuckDB oracle and the BMW scorer use.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.index.build import (
    corpus_stats,
    term_frequencies,
    tokenized_docs,
)
from keywords4cv_spark.query.fixtures import TOP_K, query_term_pairs

SCORE_DECIMALS = 6
_Q6 = Decimal(1).scaleb(-SCORE_DECIMALS)


def round6(x: float) -> float:
    """Driver-side twin of Spark's round(double, 6): Spark rounds
    ``BigDecimal(Double.toString(x))``, the shortest decimal string of
    the double, HALF_UP — so ``repr`` (also the shortest round-trip
    string), never the exact binary expansion: round(0.8101115, 6) is
    0.810112 in Spark, while the binary value sits just below the half.
    Driver-side selection windows and rank-merges rank exactly like
    ``F.round`` ones through this."""
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def bm25_idf_col() -> F.Column:
    """Lucene-style BM25 idf from columns df, n_docs."""
    df_ = F.col("df").cast("double")
    n = F.col("n_docs").cast("double")
    return F.log(F.lit(1.0) + (n - df_ + F.lit(0.5)) / (df_ + F.lit(0.5)))


def bm25_tf_norm_col(cfg: EngineConfig) -> F.Column:
    """k1/b term-frequency saturation from columns tf, dl, avgdl."""
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    return (tf * F.lit(cfg.k1 + 1.0)) / (
        tf + F.lit(cfg.k1) * (F.lit(1.0 - cfg.b) + F.lit(cfg.b) * dl / F.col("avgdl"))
    )


def bm25_score_col(cfg: EngineConfig) -> F.Column:
    """Per-(term, doc) BM25 contribution from columns tf, dl, df, n_docs, avgdl."""
    return bm25_idf_col() * bm25_tf_norm_col(cfg)


def rank_topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """(query_id, doc_id, score) → deterministic top-k with rank."""
    rounded = F.round(F.col("score"), SCORE_DECIMALS)
    w = Window.partitionBy("query_id").orderBy(rounded.desc(), F.col("doc_id"))
    return (
        scored.withColumn("score", rounded)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def bm25_brute_force(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    queries: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """End-to-end BM25 top-k straight from the documents table.

    Index-free scoring path: used as the rank-identity oracle for the
    BMW scorer and as the flagship driver query.
    """
    toks = tokenized_docs(docs, cfg)
    tf_df = term_frequencies(toks)
    dict_df = tf_df.groupBy("term").agg(F.count("*").alias("df"))
    stats = corpus_stats(toks)

    pairs = queries if queries is not None else query_term_pairs()
    qdf = local_rows(spark, pairs, "query_id long, term string")

    # (query term ⋈ df) is vocabulary-row-count tiny → broadcast it into
    # the big tf relation; stats is a 1-row broadcast.
    qterms = qdf.join(dict_df, "term")
    scored = (
        tf_df.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", bm25_score_col(cfg))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return rank_topk(scored, k)


# BM25F field weights. Deliberately NOT the section-scoring weights
# (operators/sections.py SECTION_WEIGHTS, 1.8/1.2): quarters are exact
# binary fractions, so weighted tf/dl sums are order-independent in
# float64 — the Spark partial aggregation and the DuckDB oracle add
# them in different orders and must agree bit-for-bit.
BM25F_FIELD_WEIGHTS = {"requirements": 1.75, "education": 1.25}
BM25F_DEFAULT_WEIGHT = 1.0


def bm25f_topk(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    queries: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """Field-weighted BM25 (simple BM25F, Robertson & Zaragoza 2009)
    over heading-structured documents: term frequency and document
    length are replaced by their field-weight-scaled sums
    (tf̃ = Σ_f w_f·tf_f, dl̃ = Σ_f w_f·len_f) before the standard
    saturation, so a hit under ``requirements:`` outweighs the same hit
    in the body — the retrieval generalization of the reference's
    per-section keyword weighting (keywords4cv.py:3214-3221).

    Shape: one segment split (no shuffle), one (doc, term) and one
    (doc) aggregation, broadcast query join, rank_topk. Segment bodies
    tokenize through the parity-pinned Arrow Python twin — JDK-17
    regex serializes across the JVM's threads (config.py), the same
    finding that moved the main tokenizer.
    """
    from keywords4cv_spark.deploy import ensure_py_files
    from keywords4cv_spark.operators.sentences import _heading_segments
    from keywords4cv_spark.textprep.udfs import make_tokenize_udf

    ensure_py_files(spark)
    tok = make_tokenize_udf(cfg.min_token_len, cfg.stopwords)
    pairs = queries if queries is not None else query_term_pairs()
    qdf = local_rows(spark, pairs, "query_id long, term string")

    segs = _heading_segments(docs)
    w_expr = F.lit(BM25F_DEFAULT_WEIGHT)
    for name, w in sorted(BM25F_FIELD_WEIGHTS.items()):
        w_expr = F.when(F.col("section") == name, F.lit(w)).otherwise(w_expr)
    toks = segs.select(
        "doc_id",
        w_expr.alias("w"),
        F.explode(tok(F.col("body"))).alias("term"),
    )
    wtf = toks.groupBy("doc_id", "term").agg(F.sum("w").alias("wtf"))
    wdl = toks.groupBy("doc_id").agg(F.sum("w").alias("wdl"))
    stats = wdl.agg(
        F.count("*").cast("long").alias("n_docs"), F.avg("wdl").alias("avgwdl")
    )
    df_t = wtf.groupBy("term").agg(F.count("*").alias("df"))

    qterms = qdf.join(df_t, "term")
    n = F.col("n_docs").cast("double")
    idf = F.log(F.lit(1.0) + (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tf_norm = (F.col("wtf") * F.lit(cfg.k1 + 1.0)) / (
        F.col("wtf")
        + F.lit(cfg.k1)
        * (F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("wdl") / F.col("avgwdl"))
    )
    scored = (
        wtf.join(F.broadcast(qterms), "term")
        .join(wdl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", idf * tf_norm)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return rank_topk(scored, k)
