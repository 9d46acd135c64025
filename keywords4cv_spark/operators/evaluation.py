"""Extraction-quality metrics (SURVEY.md §2.5 A7/A8).

Re-expresses the reference's precision/recall/F1/coverage set-overlap
metrics (/root/reference/keywords4cv.py:2182-2239,
metrics_evaluation.py:36-107) and mean-average-precision
(metrics_evaluation.py:147-178) as semi-join counts and a window
cumsum — no sklearn, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keywords4cv_spark import vocab
from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.index.build import term_frequencies, tokenized_docs


def extraction_metrics(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    terms: DataFrame | None = None,
) -> DataFrame:
    """One-row (n_extracted, n_skills, n_hit, precision, recall, f1).

    ONE aggregation job: the whitelist is a driver-side constant (its
    distinct count needs no Spark job), so a single broadcast left join
    + agg yields every count, and the derived metrics are columns of
    that one row — no collect/driver arithmetic, no repeated scans.
    Pass ``terms`` (a (term) DataFrame — e.g. the committed index's
    dictionary, whose term set IS the distinct corpus vocabulary) to
    skip the tokenize + corpus-wide distinct.
    """
    skill_set = sorted({s for _, s in vocab.SKILLS})
    n_skills = len(skill_set)
    skill_terms = local_rows(
        spark,
        [(s, 1) for s in skill_set], "term string, is_skill int"
    )
    extracted = (
        terms
        if terms is not None
        else tokenized_docs(docs, cfg)
        .select(F.explode("tokens").alias("term"))
        .distinct()
    )
    counts = (
        extracted.join(F.broadcast(skill_terms), "term", "left")
        .agg(
            F.count("*").alias("n_extracted"),
            F.coalesce(F.sum("is_skill"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn("n_skills", F.lit(n_skills).cast("long"))
    )
    p = F.when(
        F.col("n_extracted") > 0, F.col("n_hit") / F.col("n_extracted")
    ).otherwise(F.lit(0.0))
    r = F.when(F.col("n_skills") > 0, F.col("n_hit") / F.col("n_skills")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when((p + r) > 0, 2.0 * p * r / (p + r)).otherwise(F.lit(0.0))
    return counts.select(
        "n_extracted",
        "n_skills",
        "n_hit",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def mean_average_precision(
    spark: SparkSession, docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """AP of whitelist skills over the cf-ranked term list (one row).

    rank terms by (cf DESC, term ASC); at each whitelist hit take
    hits_so_far / position; AP = mean over hits.

    The global position is assigned with the same partition-offset
    scheme as index.build.assign_term_ids — ``Window.orderBy`` with no
    partitionBy would funnel the ENTIRE vocabulary through one task
    (the 1e9-term blocker): instead range-partition on the rank key,
    collect per-partition counts (driver-small), broadcast cumulative
    offsets, and add a within-partition row_number. Range partitions
    are ordered and disjoint on (cf DESC, term), so offset + local rank
    IS the global rank. The only remaining global window runs over the
    whitelist-hit subset — bounded by the whitelist cardinality (a
    driver-side constant list), not the vocabulary.
    """
    from keywords4cv_spark.index.build import term_frequencies_fused
    from keywords4cv_spark.query.bm25 import round6

    wl = sorted({s for _, s in vocab.SKILLS})
    # fused tokenize+tf (no corpus shuffle), vocabulary-sized checkpoint:
    # the two actions below share one materialization
    dict_df = (
        term_frequencies_fused(docs, cfg)
        .groupBy("term")
        .agg(F.sum("tf").alias("cf"))
        .persist()
    )
    # the answer needs the global rank of WHITELIST terms only — and a
    # hit's rank is just the count of vocabulary terms ordered at or
    # before it under (cf DESC, term ASC). So: collect the (driver-
    # constant-bounded) hit terms' cf, then compute every hit position
    # as one conditional count each in a SINGLE aggregation pass over
    # the vocabulary relation — map-side partials, no global window, no
    # range-partition/offset machinery, nothing funnelled anywhere.
    # hits-so-far needs no second pass either: among hits, the order by
    # global position IS the order by (cf DESC, term), so the i-th hit
    # in that order has exactly i hits at or before it.
    hit_rows = sorted(
        (
            (-int(r["cf"]), r["term"])
            for r in dict_df.filter(F.col("term").isin(wl)).collect()
        )
    )
    if not hit_rows:
        dict_df.unpersist()
        return local_rows(
        spark,
            [(None, 0)], "average_precision double, n_hits long"
        )
    pos_aggs = []
    for i, (neg_cf, t) in enumerate(hit_rows):
        cf_h = -neg_cf
        before = (F.col("cf") > F.lit(cf_h)) | (
            (F.col("cf") == F.lit(cf_h)) & (F.col("term") <= F.lit(t))
        )
        pos_aggs.append(
            F.sum(F.when(before, 1).otherwise(0)).alias(f"p{i}")
        )
    prow = dict_df.agg(*pos_aggs).collect()[0]
    dict_df.unpersist()  # both actions done — release before returning
    ap = sum((i + 1) / int(prow[f"p{i}"]) for i in range(len(hit_rows))) / len(
        hit_rows
    )
    return local_rows(
        spark,
        [(round6(ap), len(hit_rows))], "average_precision double, n_hits long"
    )
