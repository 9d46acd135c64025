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
docmeta tables (rows ∝ corpus, no window, no driver materialization).
The QUERY-TIME exclusion depends on where the WAND batch runs
(``EngineConfig.wand_driver_max_postings``): a batch served in the
driver collects the tombstone set, capped at the gate — a larger set
sends the batch to the Spark plan. There tombstones reach the scoring
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def superseded_docs(indexes: list) -> DataFrame:
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
    re-appeared).
    """
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
    return (
        metas.join(winners, "url")
        .filter(F.struct("gen_seq", "doc_id") != F.col("w"))
        .select("doc_id")
    )
