"""Text-analysis operators for training-data pipelines.

- language ID: function-word-marker scoring (n-gram-free heuristic;
  the portable subset of real langid) — argmax of per-language marker
  hit counts with deterministic ties (lang asc) and 'und' fallback
- quality scoring: length / punctuation / stopword-ratio features +
  composite score (reference analog: input sanitation policies,
  keywords4cv.py:1979-2006, generalized to web-text quality gates)
- token statistics: whitespace tokens + a BPE-ish piece count
  (ceil(len/4) pieces per token — a deterministic proxy for subword
  counts, good enough for budget estimation)
- document fingerprint: md5 over the sorted distinct token set
  (order-insensitive content identity; reference analog: the xxh3
  checksum manifest, keywords4cv.py:2821-2858)

Everything is column expressions — no UDFs, whole plan codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.index.build import tokenized_docs

# function-word markers per language (tiny, deterministic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "los", "las", "es"],
    "de": ["der", "die", "das", "und", "ist", "von"],
    "fr": ["le", "la", "les", "de", "et", "est"],
}

STOPWORD_SET = ["the", "and", "of", "to", "in", "is", "a", "for", "on", "with"]

QUALITY_WEIGHTS = {"len": 0.4, "stop": 0.3, "alpha": 0.3}


def _marker_hits(tokens: Column, markers: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*markers)))


def lang_id(docs: DataFrame, cfg: EngineConfig | None = None) -> DataFrame:
    """(doc_id, pred_lang): argmax marker count, tie → lang asc, 0 → 'und'.

    Runs over ALL rows (no lang filter — that's the point)."""
    cfg = cfg or EngineConfig(lang_filter=None)
    toks = tokenized_docs(docs, cfg)
    scored = toks.select(
        "doc_id",
        *[
            _marker_hits(F.col("tokens"), ms).alias(f"hits_{lang}")
            for lang, ms in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    # reverse order + when-chains ⇒ first (asc) lang wins ties
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select("doc_id", pred.alias("pred_lang"))


def quality_scores(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, stop_ratio, mean_token_len, quality).

    quality = 0.4·min(n_tokens/100, 1) + 0.3·min(stop_ratio·5, 1)
            + 0.3·(mean_token_len between 3 and 10)

    ``toks``: optional pre-tokenized (doc_id, tokens) frame so curation
    compositions tokenize the corpus once across branches.
    """
    if toks is None:
        toks = tokenized_docs(docs, cfg)
    n = F.size("tokens").cast("double")
    stops = F.size(
        F.filter(F.col("tokens"), lambda t: t.isin(*STOPWORD_SET))
    ).cast("double")
    tot_len = F.aggregate(
        F.transform(F.col("tokens"), lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # the divisions guard themselves: a caller's filter on these
    # columns is pushed below the size > 0 filter, and Catalyst may
    # evaluate it first (DIVIDE_BY_ZERO on a doc with no tokens)
    out = toks.filter(F.size("tokens") > 0).select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.round(F.when(n > 0, stops / n), 6).alias("stop_ratio"),
        F.round(F.when(n > 0, tot_len / n), 6).alias("mean_token_len"),
    )
    q = (
        F.lit(QUALITY_WEIGHTS["len"]) * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + F.lit(QUALITY_WEIGHTS["stop"])
        * F.least(F.col("stop_ratio") * 5.0, F.lit(1.0))
        + F.lit(QUALITY_WEIGHTS["alpha"])
        * F.when(
            (F.col("mean_token_len") >= 3.0) & (F.col("mean_token_len") <= 10.0), 1.0
        ).otherwise(0.0)
    )
    return out.withColumn("quality", F.round(q, 6))


def token_stats(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, n_tokens, n_pieces): BPE-ish subword budget estimate."""
    toks = tokenized_docs(docs, cfg)
    pieces = F.aggregate(
        F.transform(F.col("tokens"), lambda t: F.ceil(F.length(t) / 4.0)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return toks.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        pieces.alias("n_pieces"),
    )


def doc_fingerprints(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, fingerprint): md5 of sorted distinct tokens."""
    toks = tokenized_docs(docs, cfg)
    return toks.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct("tokens")))
        ).alias("fingerprint"),
    )


def repetition_scores(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, top_bigram_share, dup_trigram_frac): Gopher-style
    repetition signals for training-data curation (Rae et al. 2021,
    "repetitious text" rules, token-n-gram form):

    - top_bigram_share — occurrences of the doc's most frequent token
      bigram / total bigram occurrences (machine-generated and
      boilerplate text spikes this);
    - dup_trigram_frac — fraction of trigram occurrences whose trigram
      appears more than once in the doc.

    Both 0.0 for docs too short to form the n-gram. Shape: one
    (doc, gram) aggregation per n — the count table is corpus-sized,
    hash-partitioned, no window/no UDF; at 100 TB this is two
    shuffles whose volume is linear in token count.
    """
    toks = tokenized_docs(docs, cfg).select("doc_id", "tokens")

    def gram_col(n: int):
        return F.expr(
            f"transform(sequence(0, size(tokens) - {n}), i -> "
            + "concat_ws(' ', "
            + ", ".join(f"tokens[i + {j}]" for j in range(n))
            + "))"
        )

    big = (
        toks.filter(F.size("tokens") >= 2)
        .select("doc_id", F.explode(gram_col(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_share")
        )
    )
    tri = (
        toks.filter(F.size("tokens") >= 3)
        .select("doc_id", F.explode(gram_col(3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
                / F.sum("c"),
                6,
            ).alias("dup_trigram_frac")
        )
    )
    return (
        toks.select("doc_id")
        .join(big, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_bigram_share", F.lit(0.0)).alias("top_bigram_share"),
            F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def unigram_logprob_scores(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, cross_entropy): per-doc mean token cross-
    entropy (nats) under the corpus unigram MLE — the perplexity-proxy
    quality signal CCNet-style pipelines filter on (a doc of rare
    tokens scores high; boilerplate scores low). cross_entropy =
    mean over tokens of ln(total_tokens / cf(token)).

    Scale shape: one term explode feeds BOTH the frequency aggregation
    and the per-doc join — at service scale cf(term) is the index
    dictionary's cf column (already built), making this a dictionary
    join + one per-doc agg; here it derives from the corpus directly so
    the operator stands alone. The corpus-total is one scalar collect.
    """
    t = (
        toks
        if toks is not None
        else tokenized_docs(docs, cfg).select("doc_id", "tokens")
    )
    terms = t.select("doc_id", F.explode("tokens").alias("term"))
    # |V|-sized, materialized once: without the checkpoint the final
    # plan would re-run the corpus tokenize lineage inside the cf join
    # in addition to the per-doc pass — two corpus passes total this way
    cf = (
        terms.groupBy("term")
        .agg(F.count("*").cast("double").alias("cf"))
        .localCheckpoint()
    )
    total = float(cf.agg(F.sum("cf")).collect()[0][0])
    return (
        terms.join(cf, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.lit(total) / F.col("cf"))), 6
            ).alias("cross_entropy"),
        )
    )
