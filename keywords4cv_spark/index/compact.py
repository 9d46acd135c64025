"""Generation compaction: merge N index generations into one index by
decoding + re-encoding posting blocks — never re-tokenizing the corpus.

The LSM story's missing half (SURVEY.md §7.1 / VERDICT r1 #9): crawl
batches become small append-only generations (index/build.py), queries
merge them at read time (query/wand.py bm25_wand_multi), and when
generations pile up this operator compacts them:

- dictionary: union-aggregate of generation dictionaries (df/cf sums —
  exact, doc spaces are disjoint) with fresh parallel term ids
  (assign_term_ids);
- docmeta: union of the generations' docmeta; stats are the build's
  aggregate over it (n_docs/sum_dl sums, avgdl exact);
- postings: every generation's blocks, hash-partitioned on (term,
  doc-band) and sorted by it, go through the build's own per-partition
  encoder (build.block_encoder) in blocks mode: each Arrow batch of
  blocks is decoded to rows, split into (term, band) runs (disjoint doc
  ids across generations) and each run re-encoded with the COMBINED
  statistics — block-max scores are exact again, not the conservative
  tf-only bounds a multi-generation WAND query must use. Positional
  payloads (store_positions generations) merge too: the per-doc
  position streams are decoded, carried through the doc-id sort and
  re-encoded, so phrase search works unchanged on the compacted index;
- the compacted tree is committed by build.write_index, the build's own
  writer: same layout, and each term bucket commits on its own
  (postings/bucket=N with its _SUCCESS, then its _lineage row), so
  load_index / bm25_wand / proximity_search work unchanged. A
  compaction never resumes: every bucket is rewritten.

Scale: one dictionary-aggregate shuffle + one (term, band) shuffle over
compressed blocks. Payload bytes move exactly once; the corpus text is
never touched.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.index.build import (
    IndexTables,
    assign_term_ids,
    term_bucket,
    write_index,
)
from keywords4cv_spark.index.codec import decode_blocks


def compact_generations(
    spark: SparkSession,
    indexes: list[IndexTables],
    out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    superseded: "DataFrame | None" = None,
) -> IndexTables:
    """Merge ``indexes`` (disjoint doc spaces) into one index at out_dir.

    ``superseded``: optional (doc_id) tombstone set (index/upsert.py) —
    when given, the merge PURGES those docs: postings are decoded to
    rows, anti-joined against the tombstones, the dictionary and stats
    are recomputed over the survivors, and blocks re-encode with exact
    bounds. The purged index is byte-equivalent to a fresh build over
    the live corpus; query-time exclusion is no longer needed on it.
    """
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    # positional payloads ARE carried through the merge (decode the
    # per-doc position streams, concatenate, re-encode — the codec
    # frames positions by tf, codec.py decode_block_positions), but a
    # MIX of positional and non-positional generations can't produce a
    # consistent index: refuse that, not positions themselves
    pos_flags = [bool(idx.stats_row()["store_positions"]) for idx in indexes]
    store_positions = all(pos_flags)
    if any(pos_flags) and not store_positions:
        raise ValueError(
            "compact_generations: cannot merge positional and non-positional "
            "generations into one index — rebuild the non-positional ones "
            "with store_positions=True first"
        )
    cfg = replace(cfg, store_positions=store_positions)

    allblocks = allmeta = None
    for idx in indexes:
        blk = idx.postings.join(
            idx.dictionary.select("term_id", "term"), "term_id"
        ).select("term", "segment", "first_doc", "n", "payload")
        allblocks = blk if allblocks is None else allblocks.unionByName(blk)
        m = idx.docmeta
        allmeta = m if allmeta is None else allmeta.unionByName(
            m, allowMissingColumns=True
        )

    live = None
    if superseded is None:
        # block merge: old blocks → (term, band) runs → re-encode
        alldicts = None
        for idx in indexes:
            d = idx.dictionary.select("term", "df", "cf")
            alldicts = d if alldicts is None else alldicts.unionByName(d)
        newdict = assign_term_ids(
            alldicts.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        ).persist()
        posted, docmeta = allblocks, allmeta
    else:
        tomb = superseded.select(F.col("doc_id").cast("long")).distinct()
        live, newdict = _live_rows(allblocks, tomb, store_positions)
        posted, docmeta = live, allmeta.join(tomb, "doc_id", "left_anti")
    posted = (
        posted.join(newdict.select("term", "term_id", "df"), "term")
        .drop("term")
        .withColumn("bucket", term_bucket(F.col("term_id"), cfg.n_term_buckets))
        .repartition(cfg.shuffle_partitions, "term_id", "segment")
    )
    if live is None:
        # persisted once, as the build persists its posted rows, so the
        # per-bucket writes share one scan and shuffle. The purge's rows
        # already sit in the persisted survivors: each bucket write
        # re-reads those and shuffles only its own bucket
        posted = posted.persist()
    try:
        return write_index(spark, out_dir, cfg, newdict, docmeta, posted)
    finally:
        if live is not None:
            live.unpersist()


def _live_rows(allblocks: DataFrame, tomb: DataFrame, positional: bool):
    """Purging merge input: the blocks decoded to posting rows (term,
    segment, doc_id, tf, dl[, positions]) minus the tombstoned docs
    (``tomb``, distinct doc_ids), persisted, and the dictionary over
    those survivors.

    Unlike the block merge (which moves payload bytes once and decodes
    them only inside the encoder's task), purging MUST drop docs before
    any statistic is counted — a block may interleave live and dead
    docs — so the merge runs through the decoded row representation,
    and write_index encodes those rows with the build's per-partition
    encoder (build.block_encoder), exactly as it encodes a build's. The
    result is identical to a fresh ``build_index`` over the live corpus
    (same doc_ids/tf/dl, same term ranks over the surviving vocabulary,
    same statistics → byte-identical payloads; tested), which is the
    Lucene segment-merge contract: after the merge, deleted docs are
    gone physically and statistics are clean.

    Scale: one decode pass (mapInPandas, no driver traffic), one
    doc-keyed anti-join, one term agg. The tombstone side of the
    anti-join is recrawl-volume-sized.
    """
    row_schema = "term string, segment int, doc_id long, tf long, dl long" + (
        ", positions array<long>" if positional else ""
    )

    def explode(batches):
        # one frame per Arrow batch: the batch's decoded columns with the
        # (term, segment) keys np.repeat'ed by block size — no per-row
        # loop, no per-block DataFrame construction
        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids, tfs, dls, positions = decode_blocks(
                pdf["payload"], pdf["n"], pdf["first_doc"], positional
            )
            sizes = pdf["n"].to_numpy(np.int64)
            o = pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(object), sizes),
                    "segment": np.repeat(
                        pdf["segment"].to_numpy(np.int64), sizes
                    ).astype(np.int32),
                    "doc_id": doc_ids,
                    "tf": tfs,
                    "dl": dls,
                }
            )
            if positional:
                o["positions"] = positions
            yield o

    live = (
        allblocks.mapInPandas(explode, row_schema)
        .join(tomb, "doc_id", "left_anti")
        .persist()
    )
    # dictionary over survivors: one posting row per (term, doc) →
    # df = count, cf = Σtf; fresh parallel term ranks over the surviving
    # vocabulary (terms living only in purged docs vanish, as a rebuild's
    # would)
    newdict = assign_term_ids(
        live.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    ).persist()
    return live, newdict
