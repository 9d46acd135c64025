"""Reference-parity scoring operators (SURVEY.md §2.4/§2.5/§2.9).

The reference scores (keyword, doc) pairs then aggregates per keyword
(/root/reference/keywords4cv.py:3190-3221 scoring; :2139-2143 +
:2986-3031 aggregation). Here the base score is the BM25 contribution
(the O1 generalization), with:

- O2 whitelist boost ×1.6 via broadcast semi-join flag
  (keywords4cv.py:3207-3212)
- P9 negative-keyword removal via broadcast anti-join
  (keywords4cv.py:1180-1187)
- O3 per-field weight (section_weights analog, keywords4cv.py:3214-3221)
- A2/A3 summary: Total_Score / Avg_Score / Job_Count with the CORRECT
  distinct-count semantics (the reference double-counts — SURVEY.md §8)
- J3 fuzzy resolution: best vocabulary match by edit distance
  (bk_tree_enhancement.py:27-70) as a length-banded broadcast join +
  F.levenshtein + min_by window — no BK-tree object needed at this
  vocabulary size; the banding keeps the candidate set sub-linear
- P11 abbreviation expansion via broadcast map lookup
  (keyword_canonicalizer.py:141-165)

All joins here are broadcast by construction (vocabulary-sized right
sides), so the only shuffles are the final aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keywords4cv_spark import vocab
from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.index.build import (
    corpus_stats,
    term_frequencies,
    tokenized_docs,
)
from keywords4cv_spark.query.bm25 import bm25_score_col


def scored_postings(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    tf: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, term, tf, dl, score) with boost/weights applied.

    The reference's per-(keyword, doc) detail relation
    (keywords4cv.py:3190-3198) re-expressed: BM25 contribution × O2
    whitelist boost × O3 field weight, minus P9 negative keywords.
    Pass ``tf`` (a materialized term_frequencies relation of ``docs``)
    to skip deriving it.
    """
    toks = tokenized_docs(docs, cfg)
    tf_df = term_frequencies(toks) if tf is None else tf
    dict_df = tf_df.groupBy("term").agg(F.count("*").alias("df"))
    stats = corpus_stats(toks)

    skills = local_rows(spark, vocab.SKILLS, "category string, skill string")
    negative = local_rows(
        spark,
        [(w,) for w in vocab.NEGATIVE_KEYWORDS], "word string"
    )
    fields = local_rows(
        spark,
        vocab.FIELD_WEIGHTS, "source string, weight double"
    )

    src = docs.select(F.col("doc_id"), F.col("source"))

    base = (
        tf_df.join(F.broadcast(negative), tf_df.term == negative.word, "left_anti")
        .join(dict_df, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("base_score", bm25_score_col(cfg))
    )
    boosted = base.join(
        F.broadcast(skills.select(F.col("skill").alias("term")).distinct()
                    .withColumn("in_whitelist", F.lit(True))),
        "term",
        "left",
    ).withColumn("in_whitelist", F.coalesce("in_whitelist", F.lit(False)))
    weighted = (
        boosted.join(src, "doc_id")
        .join(F.broadcast(fields), "source", "left")
        .withColumn("weight", F.coalesce("weight", F.lit(vocab.DEFAULT_FIELD_WEIGHT)))
    )
    return weighted.select(
        "doc_id",
        "term",
        "tf",
        "dl",
        "in_whitelist",
        (
            F.col("base_score")
            * F.when(F.col("in_whitelist"), F.lit(vocab.WHITELIST_BOOST)).otherwise(1.0)
            * F.col("weight")
        ).alias("score"),
    )


def keyword_summary(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    tf: DataFrame | None = None,
) -> DataFrame:
    """A2/A3: per-term Total_Score / Avg_Score / Job_Count."""
    sp = scored_postings(spark, docs, cfg, tf)
    return sp.groupBy("term").agg(
        F.round(F.sum("score"), 6).alias("total_score"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.countDistinct("doc_id").alias("job_count"),
    )


def fuzzy_resolve(
    spark: SparkSession,
    docs: DataFrame,
    probes: list[str] | None = None,
    max_distance: int = 2,
    cfg: EngineConfig = DEFAULT_CONFIG,
    terms: DataFrame | None = None,
) -> DataFrame:
    """J3/W1/T2: best vocabulary match per probe by Levenshtein.

    Length banding (|len(a)-len(b)| <= d) prunes the candidate pairs
    before the distance computation — the relational stand-in for the
    reference's BK-tree (bk_tree_enhancement.py:27-70). Ties break on
    the lexicographically smallest match (deterministic, vs the
    reference's dict-order dependence, SURVEY.md §7.4).

    Pass ``terms`` (a (term) DataFrame — e.g. the committed index's
    dictionary, whose term set IS the distinct corpus vocabulary) to
    skip the tokenize + corpus-wide distinct this otherwise derives
    from ``docs``.
    """
    probes = probes if probes is not None else vocab.FUZZY_PROBES
    pdf = local_rows(spark, [(p,) for p in probes], "probe string")
    if terms is None:
        terms = (
            tokenized_docs(docs, cfg)
            .select(F.explode("tokens").alias("term"))
            .distinct()
        )
    cand = terms.join(
        F.broadcast(pdf),
        F.abs(F.length("term") - F.length("probe")) <= max_distance,
    ).withColumn("distance", F.levenshtein("probe", "term"))
    best = cand.filter(F.col("distance") <= max_distance)
    w = Window.partitionBy("probe").orderBy("distance", "term")
    return (
        best.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe", "term", F.col("distance").cast("int").alias("distance"))
    )


def doc_token_sets(
    spark: SparkSession, docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, toks): each document's distinct tokens, through the
    parity-pinned Arrow tokenizer — JDK-17 regex serializes across the
    JVM's threads (config.py)."""
    from keywords4cv_spark.deploy import ensure_py_files
    from keywords4cv_spark.textprep.udfs import make_tokenize_udf

    ensure_py_files(spark)
    tok = make_tokenize_udf(cfg.min_token_len, cfg.stopwords)
    return docs.select(
        "doc_id",
        F.array_distinct(tok(F.col("text"))).alias("toks"),
    )


def reference_term_scores(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    toks: DataFrame | None = None,
) -> DataFrame:
    """The reference's LITERAL scoring chain, per (doc, term) — the full
    G3→A2 pipeline now that per-keyword sections (P8) exist:

    - distinct keyword set per doc = original tokens ∪ synonym
      expansions of present terms (keywords4cv.py:3107-3164);
    - tfidf_value = the l2-normalized binary vector entry = 1/√|set|
      (HashingVectorizer(norm='l2', binary via set()) re-specified
      collision-free — keywords4cv.py:3071-3085; the reference's
      per-row constant-value defect is corrected per SURVEY §8);
    - presence = 1 iff the term occurred in the original tokens
      (synonym-only terms get 0) — keywords4cv.py:3180;
    - score = 0.7·tfidf + 0.3·presence (:3200-3205), ×WHITELIST_BOOST if
      whitelisted (:3207-3212), × the section weight of the keyword's
      nearest preceding heading (:3214-3221 via _detect_keyword_section,
      'default' weight when the term never appears in the text).

    Aggregated per term: (term, total_score, n_docs). Pass ``toks`` (a
    materialized doc_token_sets relation of ``docs``) to reuse it.
    """
    from keywords4cv_spark.operators import expansion
    from keywords4cv_spark.operators.sections import (
        DEFAULT_WEIGHT,
        section_weight_col,
    )
    from keywords4cv_spark.operators.sentences import term_sections

    if toks is None:
        # a lazy checkpoint, not persist(): unpersisting its RDD frees
        # it whole, with no cache-manager entry left behind
        toks = doc_token_sets(spark, docs, cfg).localCheckpoint(eager=False)
    orig = toks.select("doc_id", F.explode("toks").alias("term"))
    syn = local_rows(spark, expansion.SYNONYMS, "term string, synonym string")
    expanded = orig.join(F.broadcast(syn), "term").select(
        "doc_id", F.col("synonym").alias("term")
    )
    allt = orig.unionByName(expanded).distinct()
    presence = orig.withColumn("presence", F.lit(1))
    nd = allt.groupBy("doc_id").agg(F.count("*").alias("n_set"))
    skills = local_rows(
        spark,
        [(s,) for s in sorted({s for _, s in vocab.SKILLS})], "term string"
    ).withColumn("in_wl", F.lit(True))
    secs = term_sections(docs, cfg)
    scored = (
        allt.join(presence, ["doc_id", "term"], "left")
        .withColumn("presence", F.coalesce("presence", F.lit(0)))
        .join(nd, "doc_id")
        .join(F.broadcast(skills), "term", "left")
        .join(secs, ["doc_id", "term"], "left")
        .withColumn(
            "weight",
            F.when(
                F.col("section").isNotNull(), section_weight_col(F.col("section"))
            ).otherwise(F.lit(DEFAULT_WEIGHT)),
        )
        .withColumn(
            "score",
            (
                F.lit(0.7) / F.sqrt(F.col("n_set"))
                + F.lit(0.3) * F.col("presence")
            )
            * F.when(F.col("in_wl"), F.lit(vocab.WHITELIST_BOOST)).otherwise(1.0)
            * F.col("weight"),
        )
    )
    return scored.groupBy("term").agg(
        F.round(F.sum("score"), 6).alias("total_score"),
        F.count("*").alias("n_docs"),
    )


def _ratio_col(a, b):
    """Similarity ratio in [0, 100]: 100·(1 − lev(a,b)/max(|a|,|b|)).

    Engine re-specification of the reference's rapidfuzz ``ratio``
    (keywords4cv.py:718-724 FUZZY_MATCHERS dispatch) on the classic
    Levenshtein distance, which Spark and DuckDB define identically —
    the determinism requirement trumps indel-vs-substitution fidelity.
    """
    denom = F.greatest(F.length(a), F.length(b))
    return F.round(
        100.0 * (F.lit(1.0) - F.levenshtein(a, b) / denom), 2
    )


def _token_sort_col(s):
    return F.concat_ws(" ", F.array_sort(F.split(s, " ")))


def _token_set_col(s):
    return F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(s, " "))))


def _partial_ratio_col(a, b):
    """Best-window similarity in [0, 100]: slide the shorter string over
    every same-length window of the longer and keep the best ratio.

    Re-specifies rapidfuzz ``partial_ratio`` (keywords4cv.py:718-724
    FUZZY_MATCHERS) on windowed Levenshtein: for shorter s and longer l,
    score = 100·(1 − min_i lev(s, l[i:i+|s|]) / |s|) — the scorer real
    users hit for abbreviation-vs-phrase matching. The window scan is a
    transform over a sequence of start offsets, all JVM-side; windows
    are |l|−|s|+1 per pair, bounded by the candidate strings' lengths
    (bigrams/probes), never by corpus size.
    """
    s = F.when(F.length(a) <= F.length(b), a).otherwise(b)
    long_ = F.when(F.length(a) <= F.length(b), b).otherwise(a)
    m = F.length(s)
    starts = F.sequence(F.lit(1), F.length(long_) - m + F.lit(1))
    dists = F.transform(starts, lambda i: F.levenshtein(s, long_.substr(i, m)))
    return F.when(m == 0, F.lit(100.0)).otherwise(
        F.round(100.0 * (F.lit(1.0) - F.array_min(dists) / m), 2)
    )


def _wratio_col(a, b):
    """Weighted combined scorer (re-specified rapidfuzz ``WRatio``
    dispatch, keywords4cv.py:718-724): for similar-length strings the
    max of ratio and 0.95-scaled token scorers; for very different
    lengths the max of ratio and 0.9-scaled partial_ratio (the classic
    two-regime rule with the length-ratio breakpoint at 1.5)."""
    base = _ratio_col(a, b)
    tsort = _ratio_col(_token_sort_col(a), _token_sort_col(b))
    tset = _ratio_col(_token_set_col(a), _token_set_col(b))
    partial = _partial_ratio_col(a, b)
    len_ratio = F.greatest(F.length(a), F.length(b)) / F.least(
        F.length(a), F.length(b)
    )
    balanced = F.greatest(base, F.round(tsort * 0.95, 2), F.round(tset * 0.95, 2))
    unbalanced = F.greatest(base, F.round(partial * 0.9, 2))
    return F.round(F.when(len_ratio < 1.5, balanced).otherwise(unbalanced), 2)


FUZZY_SCORERS = (
    "ratio",
    "partial_ratio",
    "token_sort_ratio",
    "token_set_ratio",
    "WRatio",
)


def fuzzy_score_col(scorer: str, a, b):
    """Configurable fuzzy scorer dispatch (the reference's 5-scorer
    FUZZY_MATCHERS family, keywords4cv.py:718-724): ratio /
    partial_ratio (best-window) / token_sort_ratio (order-insensitive) /
    token_set_ratio (order- and multiplicity-insensitive) / WRatio
    (two-regime weighted max). All pure column expressions.
    """
    if scorer == "ratio":
        return _ratio_col(a, b)
    if scorer == "partial_ratio":
        return _partial_ratio_col(a, b)
    if scorer == "token_sort_ratio":
        return _ratio_col(_token_sort_col(a), _token_sort_col(b))
    if scorer == "token_set_ratio":
        return _ratio_col(_token_set_col(a), _token_set_col(b))
    if scorer == "WRatio":
        return _wratio_col(a, b)
    raise ValueError(f"unknown fuzzy scorer {scorer!r}")


def fuzzy_match_scores(
    spark: SparkSession,
    docs: DataFrame,
    probes: list[str] | None = None,
    min_token_sort: float = 60.0,
    cfg: EngineConfig = DEFAULT_CONFIG,
    top_bigrams: int = 200,
) -> DataFrame:
    """(probe, bigram, ratio, partial_ratio, token_sort_ratio,
    token_set_ratio, wratio) over the corpus's top bigrams — the full
    5-scorer family where the scorers genuinely diverge (word-order
    swaps, duplicated words, substring alignment). Candidates are the
    top-N bigrams (broadcast-sized); probes broadcast.
    """
    probes = probes if probes is not None else vocab.FUZZY_PHRASE_PROBES
    pdf = local_rows(spark, [(p,) for p in probes], "probe string")
    # fused tokenize + partial-count pass (textprep/fused.py): the only
    # exchange carries gram-vocabulary partials, not the corpus — the
    # posexplode + lead-window shape paid a corpus-wide shuffle+sort
    from keywords4cv_spark.textprep.fused import gram_counts

    bigrams = (
        gram_counts(docs, cfg, 2)
        .select(F.col("gram").alias("bigram"), "n")
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(top_bigrams)
        .select("bigram")
    )
    pairs = bigrams.crossJoin(F.broadcast(pdf))
    scored = pairs.select(
        "probe",
        "bigram",
        fuzzy_score_col("ratio", F.col("probe"), F.col("bigram")).alias("ratio"),
        fuzzy_score_col("partial_ratio", F.col("probe"), F.col("bigram")).alias(
            "partial_ratio"
        ),
        fuzzy_score_col("token_sort_ratio", F.col("probe"), F.col("bigram")).alias(
            "token_sort_ratio"
        ),
        fuzzy_score_col("token_set_ratio", F.col("probe"), F.col("bigram")).alias(
            "token_set_ratio"
        ),
        fuzzy_score_col("WRatio", F.col("probe"), F.col("bigram")).alias("wratio"),
    )
    return scored.filter(F.col("token_sort_ratio") >= min_token_sort)


def expand_abbreviations(
    spark: SparkSession, docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """P11/P12: per-term counts after abbreviation expansion.

    The abbreviation map is a tiny driver constant, so it is applied
    INSIDE one fused tokenize + partial-count pass (the
    synonym_expanded_counts shape): the only exchange carries per-batch
    vocabulary partials instead of the corpus token stream."""
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    amap = dict(vocab.ABBREVIATIONS)
    if cfg.lang_filter and "lang" in docs.columns:
        docs = docs.filter(F.col("lang") == cfg.lang_filter)
    min_len, stop = cfg.min_token_len, cfg.stopwords

    def batches(it):
        from collections import Counter

        import pandas as pd

        from keywords4cv_spark.textprep.normalize import tokenize

        for pdf in it:
            c: Counter = Counter()
            for text in pdf["text"]:
                c.update(
                    amap.get(t, t) for t in tokenize(text, min_len, stop)
                )
            if c:
                yield pd.DataFrame(
                    {
                        "term": list(c.keys()),
                        "pn": pd.array(list(c.values()), dtype="int64"),
                    }
                )

    return (
        docs.select("text")
        .mapInPandas(batches, "term string, pn long")
        .groupBy("term")
        .agg(F.sum("pn").alias("n"))
    )
