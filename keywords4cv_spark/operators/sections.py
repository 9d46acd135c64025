"""Section extraction + weighting (P7/P8/O3) over input_hint-shaped docs.

The reference splits documents on configured headings and multiplies
keyword scores by per-section weights
(/root/reference/keywords4cv.py:1305-1336 extraction, :3214-3221
weighting, headings config.yaml:141-223). The driver's `documents`
table carries no headings, so these operators run on the synthetic
input_hint corpus (sources/corpus.py), which embeds real
``requirements:`` / ``education:`` / ``experience:`` headings — and
their DuckDB oracles read the same materialized parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from keywords4cv_spark.config import EngineConfig
from keywords4cv_spark.deploy import ensure_py_files
from keywords4cv_spark.textprep.udfs import make_tokenize_udf

HEADINGS = ["requirements", "education", "experience"]
SECTION_WEIGHTS = {"requirements": 1.8, "education": 1.2}
DEFAULT_WEIGHT = 1.0
HEAD_PATTERN = "^(" + "|".join(HEADINGS) + "):"


def leading_section_col(text: Column) -> Column:
    sec = F.regexp_extract(text, HEAD_PATTERN, 1)
    return F.when(sec == "", F.lit("general")).otherwise(sec)


def section_weight_col(section: Column) -> Column:
    expr = F.lit(DEFAULT_WEIGHT)
    for name, wgt in sorted(SECTION_WEIGHTS.items()):
        expr = F.when(section == name, F.lit(wgt)).otherwise(expr)
    return expr


def section_stats(docs: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    """(section, n_docs, total_tokens, section_weight) over the corpus."""
    cfg = cfg or EngineConfig(lang_filter=None)
    ensure_py_files(docs.sparkSession)
    tok = make_tokenize_udf(cfg.min_token_len, cfg.stopwords)
    d = docs.withColumn("section", leading_section_col(F.col("text"))).withColumn(
        "n_tokens", F.size(tok(F.col("text")))
    )
    return (
        d.groupBy("section")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn("section_weight", section_weight_col(F.col("section")))
    )
