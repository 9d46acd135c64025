"""Generation compaction: merge N index generations into one index by
decoding + re-encoding posting blocks — never re-tokenizing the corpus.

The LSM story's missing half (SURVEY.md §7.1 / VERDICT r1 #9): crawl
batches become small append-only generations (index/build.py), queries
merge them at read time (query/wand.py bm25_wand_multi), and when
generations pile up this operator compacts them:

- dictionary: union-aggregate of generation dictionaries (df/cf sums —
  exact, doc spaces are disjoint) with fresh parallel term ids
  (assign_term_ids);
- stats: n_docs/sum_dl sums, avgdl recomputed exactly (sum_dl is kept
  as an integer precisely for this);
- postings: per (term, doc-band) group across all generations, decode
  the blocks, concatenate (disjoint doc ids, sorted), re-encode with
  the COMBINED statistics — block-max scores are exact again, not the
  conservative tf-only bounds a multi-generation WAND query must use.
  Positional payloads (store_positions generations) merge too: the
  per-doc position streams are decoded, carried through the doc-id sort
  and re-encoded, so phrase search works unchanged on the compacted
  index;
- the compacted tree is written in the same layout build_index
  produces, so load_index / bm25_wand / proximity_search work unchanged.
  The commit unit is the whole compaction (one _SUCCESS per table) —
  the Iceberg-snapshot analog for a one-shot rewrite.

Scale: one dictionary-aggregate shuffle + one (term, band) group-merge
shuffle over compressed blocks. Payload bytes move exactly once; the
corpus text is never touched.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.index.build import (
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    IndexTables,
    assign_term_ids,
    load_index,
    term_bucket,
)
from keywords4cv_spark.index.codec import (
    decode_block,
    decode_block_positions,
    encode_postings,
)


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
    os.makedirs(out_dir, exist_ok=True)
    if superseded is not None:
        return _compact_purging(
            spark, indexes, out_dir, cfg, superseded, store_positions
        )

    # --- combined stats (exact integer arithmetic) ---
    n_docs, sum_dl = 0, 0
    for idx in indexes:
        srow = idx.stats_row()
        n_docs += int(srow["n_docs"])
        sum_dl += int(srow["sum_dl"])
    avgdl = sum_dl / n_docs
    k1, b, block_size = cfg.k1, cfg.b, cfg.block_size

    # --- merged dictionary with fresh parallel ids ---
    alldicts = None
    for idx in indexes:
        d = idx.dictionary.select("term", "df", "cf")
        alldicts = d if alldicts is None else alldicts.unionByName(d)
    agg = alldicts.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    ids = assign_term_ids(agg)
    newdict = ids.select("term", "term_id", "df", "cf").persist()
    newdict.write.mode("overwrite").parquet(f"{out_dir}/dictionary")

    # --- docmeta union ---
    allmeta = None
    for idx in indexes:
        m = idx.docmeta
        allmeta = m if allmeta is None else allmeta.unionByName(
            m, allowMissingColumns=True
        )
    allmeta.write.mode("overwrite").parquet(f"{out_dir}/docmeta")

    from keywords4cv_spark.index.build import DOC_BAND_LAYOUT

    spark.createDataFrame(
        [
            (
                n_docs,
                avgdl,
                sum_dl,
                k1,
                b,
                cfg.n_term_buckets,
                store_positions,
                0,
                DOC_BAND_LAYOUT,
            )
        ],
        "n_docs long, avgdl double, sum_dl long, k1 double, b double, "
        "n_term_buckets int, store_positions boolean, input_hash long, layout string",
    ).write.mode("overwrite").parquet(f"{out_dir}/stats")

    # --- posting merge: old blocks → (term, band) groups → re-encode ---
    allblocks = None
    for idx in indexes:
        blk = idx.postings.join(
            idx.dictionary.select("term_id", "term"), "term_id"
        ).select("term", "segment", "first_doc", "n", "payload")
        allblocks = blk if allblocks is None else allblocks.unionByName(blk)
    joined = allblocks.join(
        newdict.select("term", F.col("term_id").alias("new_term_id"), "df"), "term"
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        term_id = int(pdf["new_term_id"].iloc[0])
        segment = int(pdf["segment"].iloc[0])
        df_val = int(pdf["df"].iloc[0])
        docs_l, tfs_l, dls_l, pos_l = [], [], [], []
        for payload, n, first_doc in zip(
            pdf["payload"], pdf["n"], pdf["first_doc"]
        ):
            if store_positions:
                d, t, ln, pos = decode_block_positions(
                    payload, int(n), int(first_doc)
                )
                pos_l.extend(pos)
            else:
                d, t, ln = decode_block(payload, int(n), int(first_doc))
            docs_l.append(d)
            tfs_l.append(t)
            dls_l.append(ln)
        docs = np.concatenate(docs_l)
        tfs = np.concatenate(tfs_l)
        dls = np.concatenate(dls_l)
        idf = float(np.log(1.0 + (n_docs - df_val + 0.5) / (df_val + 0.5)))
        # encode_postings re-sorts by doc_id (stable) and reorders the
        # aligned positions list with the same permutation
        blocks = encode_postings(
            docs,
            tfs,
            dls,
            idf,
            k1,
            b,
            avgdl,
            block_size,
            positions=pos_l if store_positions else None,
        )
        out = pd.DataFrame(blocks)
        out.insert(0, "segment", segment)
        out.insert(0, "term_id", term_id)
        return out

    merged = (
        joined.repartition(cfg.shuffle_partitions, "new_term_id", "segment")
        .groupBy("new_term_id", "segment")
        .applyInPandas(merge_group, POSTINGS_SCHEMA)
        .withColumn("bucket", term_bucket(F.col("term_id"), cfg.n_term_buckets))
    )
    merged.sortWithinPartitions("term_id", "segment", "block_id").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{out_dir}/postings")

    _write_lineage(spark, out_dir)
    newdict.unpersist()
    staged = getattr(ids, "_k4cv_staged", None)
    if staged is not None:
        staged.unpersist()
    return load_index(spark, out_dir)


def _compact_purging(
    spark: SparkSession,
    indexes: list[IndexTables],
    out_dir: str,
    cfg: EngineConfig,
    superseded,
    store_positions: bool,
) -> IndexTables:
    """Purging merge: decode postings to rows, drop tombstoned docs,
    recompute dictionary/stats over the survivors, re-encode exactly.

    Unlike the block-level fast path (which moves payload bytes once and
    never expands them), purging MUST look inside every block — a block
    may interleave live and dead docs — so the merge runs through the
    decoded row representation and the standard build encoder. The
    result is identical to a fresh ``build_index`` over the live corpus
    (same doc_ids/tf/dl, same term ranks over the surviving vocabulary,
    same statistics → byte-identical payloads; tested), which is the
    Lucene segment-merge contract: after the merge, deleted docs are
    gone physically and statistics are clean.

    Scale: one decode pass (mapInPandas, no driver traffic), one
    doc-keyed anti-join, one term agg, one (term, band) encode shuffle.
    The tombstone side of the anti-join is recrawl-volume-sized.
    """
    from keywords4cv_spark.index.build import DOC_BAND_LAYOUT, _make_encoder

    tomb = superseded.select(F.col("doc_id").cast("long")).distinct()

    allblocks = None
    for idx in indexes:
        blk = idx.postings.join(
            idx.dictionary.select("term_id", "term"), "term_id"
        ).select("term", "segment", "first_doc", "n", "payload")
        allblocks = blk if allblocks is None else allblocks.unionByName(blk)

    row_schema = "term string, segment int, doc_id long, tf long, dl long" + (
        ", positions array<long>" if store_positions else ""
    )

    def explode(batches):
        # one frame per Arrow batch: per-block decodes feed
        # np.concatenate'd columns with the (term, segment) keys
        # np.repeat'ed by block size — no per-row loop, no per-block
        # DataFrame construction
        for pdf in batches:
            if len(pdf) == 0:
                continue
            decoded, pos_lists = [], []
            for payload, n, first_doc in zip(
                pdf["payload"], pdf["n"], pdf["first_doc"]
            ):
                if store_positions:
                    d, t, ln, pos = decode_block_positions(
                        payload, int(n), int(first_doc)
                    )
                    pos_lists.append(pos)
                else:
                    d, t, ln = decode_block(payload, int(n), int(first_doc))
                decoded.append((d, t, ln))
            sizes = np.array([d.size for d, _, _ in decoded], dtype=np.int64)
            o = pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(object), sizes),
                    "segment": np.repeat(
                        pdf["segment"].to_numpy(np.int64), sizes
                    ).astype(np.int32),
                    "doc_id": np.concatenate(
                        [d for d, _, _ in decoded]
                    ).astype(np.int64),
                    "tf": np.concatenate(
                        [t for _, t, _ in decoded]
                    ).astype(np.int64),
                    "dl": np.concatenate(
                        [ln for _, _, ln in decoded]
                    ).astype(np.int64),
                }
            )
            if store_positions:
                o["positions"] = [
                    np.asarray(p, dtype=np.int64)
                    for pos in pos_lists
                    for p in pos
                ]
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
    agg = live.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )
    ids = assign_term_ids(agg)
    newdict = ids.select("term", "term_id", "df", "cf").persist()
    newdict.write.mode("overwrite").parquet(f"{out_dir}/dictionary")

    allmeta = None
    for idx in indexes:
        m = idx.docmeta
        allmeta = m if allmeta is None else allmeta.unionByName(
            m, allowMissingColumns=True
        )
    allmeta.join(tomb, "doc_id", "left_anti").write.mode("overwrite").parquet(
        f"{out_dir}/docmeta"
    )
    spark.read.parquet(f"{out_dir}/docmeta").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").cast("long").alias("sum_dl"),
    ).withColumn("k1", F.lit(cfg.k1)).withColumn("b", F.lit(cfg.b)).withColumn(
        "n_term_buckets", F.lit(cfg.n_term_buckets)
    ).withColumn("store_positions", F.lit(store_positions)).withColumn(
        "input_hash", F.lit(0).cast("long")
    ).withColumn("layout", F.lit(DOC_BAND_LAYOUT)).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/stats")
    srow = spark.read.parquet(f"{out_dir}/stats").collect()[0]
    n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"])

    encoder = _make_encoder(cfg, n_docs, avgdl)
    posted = live.join(newdict.select("term", "term_id", "df"), "term")
    merged = (
        posted.repartition(cfg.shuffle_partitions, "term_id", "segment")
        .groupBy("term_id", "segment")
        .applyInPandas(encoder, POSTINGS_SCHEMA)
        .withColumn("bucket", term_bucket(F.col("term_id"), cfg.n_term_buckets))
    )
    merged.sortWithinPartitions("term_id", "segment", "block_id").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{out_dir}/postings")

    _write_lineage(spark, out_dir)
    live.unpersist()
    newdict.unpersist()
    staged = getattr(ids, "_k4cv_staged", None)
    if staged is not None:
        staged.unpersist()
    return load_index(spark, out_dir)


def _write_lineage(spark: SparkSession, out_dir: str) -> None:
    """Lineage from one batched read-back job over the compacted tree.

    Postings were FULLY overwritten, but lineage rows are written per
    bucket=N subdir — recompacting into an out_dir whose previous
    contents had MORE buckets would leave stale bucket=N dirs behind and
    load_index would report phantom buckets. Clear the whole table first.
    """
    shutil.rmtree(os.path.join(out_dir, "_lineage"), ignore_errors=True)
    bstats = (
        spark.read.option("basePath", f"{out_dir}/postings")
        .parquet(f"{out_dir}/postings")
        .groupBy("bucket")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("rows"),
            F.count("*").alias("n_blocks"),
            F.countDistinct("term_id").alias("n_terms"),
            F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("payload_bytes"),
        )
        .collect()
    )
    for r in bstats:
        row = pd.DataFrame(
            [
                {
                    "status": "complete",
                    "rows": int(r["rows"]),
                    "n_blocks": int(r["n_blocks"]),
                    "n_terms": int(r["n_terms"]),
                    "payload_bytes": int(r["payload_bytes"]),
                    "input_hash": 0,
                    "started_ts": 0.0,
                    "finished_ts": 0.0,
                }
            ]
        )
        spark.createDataFrame(row, LINEAGE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/_lineage/bucket={int(r['bucket'])}")
