"""Recrawl upsert semantics for the multi-generation LSM index.

Common-Crawl-style corpora re-crawl pages: the same url reappears in a
later crawl batch with fresh content and a NEW doc_id in that batch's
generation (doc spaces stay disjoint — the append-only invariant every
multi-generation operator relies on). An upsert-aware engine must stop
returning the stale versions. This module implements the two halves the
way production LSM engines (Lucene segment deletes, RocksDB tombstones)
do:

- QUERY TIME — ``superseded_docs`` derives the tombstone set (every
  doc_id of a url except the one from the NEWEST generation holding
  it), and ``query/wand.py:bm25_wand_multi(exclude=...)`` drops those
  docs from every result while the corpus statistics (n_docs, avgdl,
  df) keep counting them. That is exactly Lucene's deleted-docs
  contract: deletions filter matches immediately; statistics are only
  cleaned up at segment merge. The matching oracle therefore scores
  with union statistics and filters superseded docs before ranking.

- COMPACTION TIME — ``compact.py:compact_generations(superseded=...)``
  physically purges the tombstoned docs: postings are decoded to rows,
  anti-joined against the tombstone set, the dictionary (df/cf) and
  stats (n_docs/avgdl/sum_dl) are recomputed over the survivors, and
  blocks are re-encoded with exact max-score bounds. After the purging
  merge, results are rank-identical to a fresh build over the live
  corpus (tested), and the tombstone set resets to empty.

Scale: the tombstone DERIVATION is one url-keyed shuffle over the
docmeta tables (rows ∝ corpus, no window). ``superseded_docs`` runs it
once, when it is called, and keeps the set in the driver when it fits
under ``EngineConfig.wand_driver_max_postings`` (the gate that already
decides whether a WAND batch's tombstones fit in the driver): the
result is then an Arrow local relation, so every later consumer reads
it without a Spark job. A larger set is returned as the lazy
derivation. The QUERY-TIME exclusion depends on where the WAND batch
runs: a batch served in the driver collects the tombstone set (0 jobs
from a local relation), capped at the same gate — a larger set sends
the batch to the Spark plan. There tombstones reach the scoring
tasks as extra rows unioned into the block scan, Spark-partitioned
alongside the postings by the same (query, doc-band) keys, so the cost
is |tombstones| × |queries| rows per query batch. Either way it is
bounded by the recrawl volume of the compaction cycle (the LSM
contract: compaction keeps the live tombstone set small). Reference
parity: the reference engine rebuilds its cache wholesale on input
change (keywords4cv.py:2821-2895 verify-then-load manifest); upsert
generalizes that to per-document freshness at web scale.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig

_TOMB_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


def superseded_docs(indexes: list, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Tombstone set across generations: (doc_id) of every doc whose url
    has a newer version in a LATER generation (or, within one
    generation, a higher doc_id — a same-batch crawl dup keeps the
    newest capture).

    ``indexes`` must be in generation order (oldest first — what
    ``manifest.load_generations`` returns) and every generation's
    docmeta must carry the ``url`` column (build with ``url_col=``).

    One groupBy(url) shuffle + one url-keyed join; the winner per url is
    max(gen_seq, doc_id) — no window, no single-partition stage, and the
    output is exactly the upsert-shadowed rows (empty when no url ever
    re-appeared, or when ``indexes`` is empty).

    The derivation runs when this is called. A set of at most
    ``cfg.wand_driver_max_postings`` rows comes back as an Arrow local
    relation: collecting it, or a WAND batch excluding it, runs no Spark
    job. A larger set comes back as the lazy derivation. Either way the
    result is a snapshot of the given generation handles, which are
    immutable: derive it again after a generation is appended.
    """
    if not indexes:
        return _local_tombstones(SparkSession.active(), [])
    metas = None
    for seq, idx in enumerate(indexes):
        if "url" not in idx.docmeta.columns:
            raise ValueError(
                "superseded_docs: generation docmeta has no 'url' column — "
                "build the index with url_col= to enable upsert semantics"
            )
        m = idx.docmeta.select(
            "url", "doc_id", F.lit(seq).cast("int").alias("gen_seq")
        )
        metas = m if metas is None else metas.unionByName(m)
    winners = metas.groupBy("url").agg(
        F.max(F.struct("gen_seq", "doc_id")).alias("w")
    )
    derivation = (
        metas.join(winners, "url")
        .filter(F.struct("gen_seq", "doc_id") != F.col("w"))
        .select(F.col("doc_id").cast("long"))
    )
    gate = cfg.wand_driver_max_postings
    rows = derivation.limit(gate + 1).collect()
    if len(rows) > gate:
        return derivation
    return _local_tombstones(metas.sparkSession, [r[0] for r in rows])


def _local_tombstones(spark: SparkSession, doc_ids: list[int]) -> DataFrame:
    """(doc_id long) as an Arrow local relation: collecting it runs no
    Spark job, even when it is empty (``createDataFrame`` of a list or a
    pandas frame plans a parallelize job)."""
    return spark.createDataFrame(
        pa.table({"doc_id": pa.array(doc_ids, pa.int64())}), _TOMB_SCHEMA
    )
