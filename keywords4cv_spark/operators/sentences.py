"""Sentence segmentation (P6), per-keyword section detection (P8) and
±w-sentence context-window validation (J4).

Re-expresses the reference's spaCy-based sentence machinery with a
deterministic, engine-portable rule set:

- ``_extract_sentences`` (/root/reference/keywords4cv.py:1272-1285):
  spaCy ``doc.sents`` plus an optional bullet-point split. Re-specified
  spaCy-free (SURVEY.md §5.2a) as: split on runs of sentence-ending
  punctuation ``[.!?]`` or bullets ``•``, trim, drop empties. The same
  regex runs in Spark (Java regex) and DuckDB (RE2).
- ``_get_context_window`` (keywords4cv.py:1287-1303): the ±w-sentence
  window around the FIRST sentence containing the keyword. Here the
  window math is a RANGE BETWEEN -w AND w window frame over sentence
  indexes — the W2 rows-between mapping planned in SURVEY.md §2.6.
- ``validate_term`` (validation_utils.py:50-143): the reference scores
  keyword-vs-context semantic similarity with word vectors. The engine
  re-specifies validation as deterministic lexical co-occurrence — a
  keyword occurrence is valid iff its ±w window contains at least
  ``min_context_hits`` occurrences of OTHER whitelist terms (no word
  vectors ship in this container; the plan shape — window frames over
  sentence-indexed aggregates — is identical for any scorer, and the
  cosine scorer exists separately in operators/categorize.py).
- ``_detect_keyword_section`` (keywords4cv.py:1499-1522): the nearest
  heading PRECEDING the keyword's first match. Implemented by sentinel-
  splitting the document at headings (one regexp_replace + split, no
  per-match driver loop): every token inherits the heading of its
  segment, and the first segment containing the keyword gives the
  reference's answer.

Scale: everything is split → posexplode → windowed aggregation. The
sentence/segment relations are per-doc local (windows partition by
doc_id), so there is no global shuffle beyond the initial explode.
Tokens come from the engine's Arrow pandas UDF tokenizer (JDK-17
regex runs one thread at a time inside a JVM; Python workers scale
across cores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keywords4cv_spark import vocab
from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.operators.sections import HEADINGS
from keywords4cv_spark.deploy import ensure_py_files
from keywords4cv_spark.textprep.udfs import make_tokenize_udf

# sentence boundary: runs of ./!/? or bullet (reference custom rule)
SENT_SPLIT = "[.!?•]+"
# heading sentinel (any char outside the corpus alphabet works)
_SENTINEL = "\x01"
HEAD_RE = "(" + "|".join(HEADINGS) + "):"
CONTEXT_WINDOW = 1  # reference default context_window_size
MIN_CONTEXT_HITS = 1


def _tokenizer(docs: DataFrame, cfg: EngineConfig):
    """The engine tokenizer as an Arrow pandas UDF, shipped to the
    executors of ``docs``' session."""
    ensure_py_files(docs.sparkSession)
    return make_tokenize_udf(cfg.min_token_len, cfg.stopwords)


def sentences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sent_idx, sentence): P6 segmentation, 0-based dense index."""
    raw = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), SENT_SPLIT)).alias("pos", "raw")
    )
    kept = raw.withColumn("sentence", F.trim("raw")).filter(F.length("sentence") > 0)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return kept.withColumn(
        "sent_idx", (F.row_number().over(w) - 1).cast("int")
    ).select("doc_id", "sent_idx", "sentence")


def sentence_stats(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, sent_idx, n_tokens): per-sentence token counts."""
    s = sentences(docs)
    tok = _tokenizer(docs, cfg)
    return s.select(
        "doc_id",
        "sent_idx",
        F.size(tok(F.col("sentence"))).cast("long").alias("n_tokens"),
    )


def _heading_segments(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, seg_idx, section, body): document split at headings.

    One regexp_replace inserts a sentinel before every heading, one
    split recovers ordered segments — each segment's tokens all have
    that heading as their nearest preceding heading. Segment 0 before
    any heading is the reference's 'general'.
    """
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.split(
                F.regexp_replace(F.col(text_col), HEAD_RE, _SENTINEL + "$1:"),
                _SENTINEL,
            )
        ).alias("seg_idx", "body"),
    ).filter(F.length(F.trim("body")) > 0)
    head = F.regexp_extract(F.col("body"), "^" + HEAD_RE, 1)
    return segs.withColumn(
        "section", F.when(head == "", F.lit("general")).otherwise(head)
    )


def term_sections(docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, term, section): nearest-preceding heading at the FIRST
    occurrence of EVERY distinct term in each document."""
    segs = _heading_segments(docs)
    tok = _tokenizer(docs, cfg)
    toks = segs.select(
        "doc_id",
        "seg_idx",
        "section",
        F.explode(tok(F.col("body"))).alias("term"),
    )
    w = Window.partitionBy("doc_id", "term").orderBy("seg_idx")
    return (
        toks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "section")
    )


def keyword_sections(
    spark: SparkSession, docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(doc_id, term, section): nearest-preceding heading at the FIRST
    occurrence of each whitelist keyword in each document (P8)."""
    skills = local_rows(
        spark,
        [(s,) for s in sorted({s for _, s in vocab.SKILLS})], "term string"
    )
    return (
        term_sections(docs, cfg)
        .join(F.broadcast(skills), "term", "left_semi")
        .select("doc_id", "term", "section")
    )


def _sentence_skill_hits(
    spark: SparkSession, docs: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """(doc_id, sent_idx, term, cnt) for whitelist terms per sentence."""
    s = sentences(docs)
    tok = _tokenizer(docs, cfg)
    toks = s.select(
        "doc_id",
        "sent_idx",
        F.explode(tok(F.col("sentence"))).alias("term"),
    )
    skills = local_rows(
        spark,
        [(s_,) for s_ in sorted({s_ for _, s_ in vocab.SKILLS})], "term string"
    )
    # the Python tokenizer stage drops the doc_id partitioning of the
    # sentence window; restoring it on the (whitelist-sized) hit rows
    # lets this aggregate and the consumers' per-doc windows share one
    # exchange instead of paying one each
    return (
        toks.join(F.broadcast(skills), "term", "left_semi")
        .repartition("doc_id")
        .groupBy("doc_id", "sent_idx", "term")
        .agg(F.count("*").alias("cnt"))
    )


def context_validated_terms(
    spark: SparkSession,
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    window: int = CONTEXT_WINDOW,
    min_context_hits: int = MIN_CONTEXT_HITS,
) -> DataFrame:
    """(doc_id, term, first_sent, n_context_other, valid): J4 validation.

    For each whitelist keyword's FIRST sentence in a doc, count
    occurrences of OTHER whitelist terms within ±window sentences
    (RANGE frame over sent_idx — gap-safe) and mark valid iff the count
    reaches min_context_hits.
    """
    # RANGE frames over sent_idx: w_tot sums every whitelist hit within
    # ±window sentences (all terms), w_term the keyword's own hits
    w_tot = (
        Window.partitionBy("doc_id")
        .orderBy("sent_idx")
        .rangeBetween(-window, window)
    )
    w_term = (
        Window.partitionBy("doc_id", "term")
        .orderBy("sent_idx")
        .rangeBetween(-window, window)
    )
    scored = (
        _sentence_skill_hits(spark, docs, cfg)
        .withColumn("w_tot", F.sum("cnt").over(w_tot))
        .withColumn("w_term", F.sum("cnt").over(w_term))
        .withColumn("n_context_other", (F.col("w_tot") - F.col("w_term")).cast("long"))
    )
    first = Window.partitionBy("doc_id", "term").orderBy("sent_idx")
    return (
        scored.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "term",
            F.col("sent_idx").alias("first_sent"),
            "n_context_other",
            (F.col("n_context_other") >= min_context_hits).alias("valid"),
        )
    )


SEMANTIC_THRESHOLD = 0.1


def context_validated_semantic(
    spark: SparkSession,
    docs: DataFrame,
    emb: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    window: int = CONTEXT_WINDOW,
    threshold: float = SEMANTIC_THRESHOLD,
) -> DataFrame:
    """(doc_id, term, first_sent, n_context_other, sem_cosine, valid):
    J4 with the reference's SEMANTIC scorer restored
    (validation_utils.py:50-143 — keyword vs context-vector cosine).

    The context window is the same ±w sentences around the keyword's
    first sentence as context_validated_terms; the validator is now
    cosine(term_vector, context_centroid) ≥ threshold, where the
    context centroid is the tf-weighted mean embedding of OTHER
    whitelist terms in the window. Term→vector mapping is the rank of
    the skill in the sorted whitelist joined to the embeddings table's
    vec_id — disclosed plumbing for the container's synthetic vectors
    (the reference ships real word vectors; the relational shape is
    identical for any embedding source). Keywords with an empty context
    window have NULL sem_cosine and are invalid — the reference's
    "insufficient context" branch.

    Scale shape: anchors × window hits is a bounded range join (window
    is a small constant), the per-dimension centroid is one groupBy,
    and both the term→vec map and the term embeddings broadcast.
    """
    from keywords4cv_spark.operators.similarity import cosine_col

    # a lazy checkpoint, not persist(): unpersisting its RDD frees it
    # whole, with no cache-manager entry left behind
    hits = _sentence_skill_hits(spark, docs, cfg).localCheckpoint(eager=False)
    skills = sorted({s_ for _, s_ in vocab.SKILLS})
    tv = local_rows(
        spark,
        [(t, i) for i, t in enumerate(skills)], "term string, vec_id long"
    )
    evec = emb.select("vec_id", "embedding")
    first = Window.partitionBy("doc_id", "term").orderBy("sent_idx")
    anchors = (
        hits.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", F.col("sent_idx").alias("first_sent"))
    )
    h = hits.select(
        F.col("doc_id").alias("h_doc"),
        F.col("term").alias("ctx_term"),
        F.col("sent_idx").alias("h_sent"),
        "cnt",
    )
    ctx = anchors.join(
        h,
        (anchors.doc_id == F.col("h_doc"))
        & (F.col("h_sent") >= F.col("first_sent") - window)
        & (F.col("h_sent") <= F.col("first_sent") + window)
        & (F.col("ctx_term") != anchors.term),
    ).select("doc_id", "term", "first_sent", "ctx_term", "cnt")
    nctx = ctx.groupBy("doc_id", "term").agg(
        F.sum("cnt").cast("long").alias("n_context_other")
    )
    ctx_e = ctx.join(
        F.broadcast(tv.withColumnRenamed("term", "ctx_term").withColumnRenamed(
            "vec_id", "ctx_vec"
        )),
        "ctx_term",
    ).join(evec.withColumnRenamed("vec_id", "ctx_vec"), "ctx_vec")
    cdim = (
        ctx_e.select(
            "doc_id", "term", "first_sent", "cnt",
            F.posexplode("embedding").alias("i", "x"),
        )
        .groupBy("doc_id", "term", "first_sent", "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast("double") * F.col("cnt")) / F.sum("cnt"), 9
            ).alias("m")
        )
    )
    cent = (
        cdim.groupBy("doc_id", "term", "first_sent")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("pairs"))
        .select(
            "doc_id", "term", "first_sent",
            F.transform(F.col("pairs"), lambda p: p["m"]).alias("centroid"),
        )
    )
    term_emb = tv.join(evec, "vec_id").select(
        "term", F.col("embedding").alias("t_emb")
    )
    out = (
        anchors.join(nctx, ["doc_id", "term"], "left")
        .join(cent, ["doc_id", "term", "first_sent"], "left")
        .join(F.broadcast(term_emb), "term")
        .withColumn(
            "sem_cosine",
            F.when(
                F.col("centroid").isNotNull(),
                F.round(cosine_col(F.col("t_emb"), F.col("centroid")), 6),
            ),
        )
    )
    return out.select(
        "doc_id",
        "term",
        "first_sent",
        F.coalesce("n_context_other", F.lit(0)).cast("long").alias(
            "n_context_other"
        ),
        "sem_cosine",
        F.coalesce(F.col("sem_cosine") >= threshold, F.lit(False)).alias("valid"),
    )
