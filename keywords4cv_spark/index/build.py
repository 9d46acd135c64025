"""SPIMI-style inverted-index build: documents → compressed postings.

Generalizes the reference's chunked extract→vectorize→score pipeline
(/root/reference/keywords4cv.py:2008-2065 driver loop; :3044-3095
DTM build) into a distributed Spark build:

  documents scan (lang filter pushed to parquet)
   → tokenize + per-doc tf in one Arrow pass (term_frequencies_fused;
     no shuffle — every (doc_id, term) group lives in one input row)
   → dictionary: groupBy(term) df/cf + deterministic term_id
   → doc-band split: EVERY term's postings are segmented by
     segment = pmod(doc_id, n_salts). This (a) bounds the encode group
     of a Zipf head term ("the") that would otherwise serialize one
     reducer (SURVEY.md §4.2.1), and (b) makes segments a PARTITION of
     the doc space shared by all terms — so query-time WAND/phrase can
     run per (query, segment) band in parallel and rank-merge exactly
     (a doc's postings for every query term share one band)
   → repartition(term_id, segment) → applyInPandas encode blocks
     (delta-gap + varbyte + exact per-block max BM25 contribution)
   → parquet tables: dictionary / postings / docmeta / stats / _lineage

Checkpoint-resume (north_rule): postings are built per term bucket
(term_id % n_term_buckets), each bucket commits atomically (its own
parquet dir with a _SUCCESS marker, then its _lineage row). A restarted
build rewrites dictionary/docmeta/stats (vocabulary- and doc-count-
sized) and skips only the committed buckets whose recorded input_hash
equals the current one: the bucket's term-content hash XOR the index
fingerprint (every docmeta row plus k1, b, block_size, n_salts,
n_term_buckets, store_positions). A resume over a changed corpus,
docmeta or config therefore rebuilds instead of mixing generations —
mirroring the reference's verify-then-load checkpoint gate
(keywords4cv.py:2821-2895, :3336-3339) with Iceberg-snapshot-style
semantics at sandbox scale. ``write_index`` is this commit protocol,
and the one writer of index tables: build_index and both compaction
modes (index/compact.py) call it.

Scale notes (1000-executor / 10^12-doc design point):
- tf is computed row-locally inside the tokenize batch (no shuffle);
  no collect anywhere.
- dictionary term_id is assigned by a PARALLEL range-partitioned
  scheme (assign_term_ids): repartitionByRange(term) → per-partition
  counts (driver-small collect) → broadcast cumulative offsets →
  within-partition row_number + offset. The resulting id is the global
  rank of the term (boundary-independent, deterministic across runs —
  resume-safe), and no task ever sees more than one range partition of
  the ~1e8-1e9-term web vocabulary.
- postings join dictionary on term: Spark/AQE picks broadcast when the
  dictionary is small, sort-merge otherwise; head-term skew in THIS
  join is handled by AQE skewJoin, while the groupBy-encode skew is
  handled by our explicit salting (AQE cannot split a groupBy group).
- each (term_id, segment) group is bounded by the salt factor, so
  applyInPandas groups fit in executor memory by construction.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.index.codec import encode_postings
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.textprep.spark_exprs import ngrams_col

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType()),
        T.StructField("segment", T.IntegerType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("max_score", T.DoubleType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

# physical-layout marker written into the stats table. Band-grouped
# query plans (wand.py groupBy(query_id, segment), phrase.py) are only
# exact when `segment` is a doc band shared by every term; a 0.3.x
# index (salted head terms, segment 0 for tail terms) would load
# without error and silently split a doc's score across segment
# groups. load_index refuses stats rows without this exact marker.
DOC_BAND_LAYOUT = "doc-band-v1"

# _lineage is a bucket-partitioned parquet table (_lineage/bucket=N/):
# each bucket's row commits atomically WITH that bucket (own _SUCCESS),
# so a mid-build crash loses at most the in-flight buckets' lineage —
# never the completed ones. `bucket` itself comes from partition
# discovery, not the data columns.
LINEAGE_SCHEMA = (
    "status string, rows long, n_blocks long, n_terms long, "
    "payload_bytes long, input_hash long, started_ts double, finished_ts double"
)


def term_bucket(term_id, n_term_buckets: int):
    """The postings layout's bucket rule, pmod(term_id, n_term_buckets):
    a Column for the build and compaction writers, an int for query-time
    directory pruning (Python's % is pmod for a positive modulus)."""
    if isinstance(term_id, Column):
        return F.pmod(term_id, F.lit(n_term_buckets)).cast("int")
    return term_id % n_term_buckets


@dataclass
class IndexTables:
    dictionary: DataFrame
    postings: DataFrame
    docmeta: DataFrame
    stats: DataFrame
    lineage: DataFrame
    path: str  # the index tree load_index opened: driver-local reads use it
    _stats_row: object = None
    _term_cache: dict | None = None

    def stats_row(self):
        """Collected stats row, cached — the query hot path shouldn't pay
        a driver round-trip per call for one immutable row."""
        if self._stats_row is None:
            self._stats_row = self.stats.collect()[0]
        return self._stats_row

    def lookup_terms(self, terms) -> dict[str, tuple[int, int]]:
        """term → (term_id, df) for the requested terms, driver-cached.

        The query-time dictionary probe (Lucene's in-memory term
        dictionary, here a memoized parquet lookup): the first batch
        that asks for a term pays one driver-side pyarrow read of the
        dictionary files (a filter on ``term``, no Spark job); every
        later batch resolves it from the cache. The cache is bounded by
        the distinct terms actually queried against this index handle
        (not the vocabulary), and negative results are cached too so
        absent terms don't re-read. An index is immutable once built
        (generations are new handles), so entries never go stale."""
        if self._term_cache is None:
            self._term_cache = {}
        missing = [t for t in set(terms) if t not in self._term_cache]
        if missing:
            tbl = ds.dataset(f"{self.path}/dictionary", format="parquet").to_table(
                columns=["term", "term_id", "df"],
                filter=pc.field("term").isin(missing),
            )
            found = {
                t: (int(tid), int(df))
                for t, tid, df in zip(
                    *(tbl.column(c).to_pylist() for c in ("term", "term_id", "df"))
                )
            }
            for t in missing:
                self._term_cache[t] = found.get(t)
        return {t: v for t in set(terms) if (v := self._term_cache[t]) is not None}

    def postings_for(
        self, spark: SparkSession, wanted, schema: str = "term_id long",
        local: bool = False,
    ) -> DataFrame | pa.Table | None:
        """The one postings reader: the posting blocks of the wanted
        terms, joined to the wanted rows and pruned by bucket directory
        (other buckets' files are never listed) and by term_id. None
        when no term resolves.

        ``wanted`` is driver-local rows matching ``schema``. A leading
        ``term string`` column resolves through ``lookup_terms``: rows
        of unknown terms drop and ``term_id`` is prepended. Otherwise
        the first column is the ``term_id`` itself. ``wanted`` may also
        be a DataFrame with a ``term_id`` column, for term sets too wide
        for a literal IN list (a prefix expansion): its distinct bucket
        set is collected, bounded by n_term_buckets, and the broadcast
        join alone prunes term ids.

        ``local=True`` (driver-local rows only) returns an Arrow table
        instead of a DataFrame: a pyarrow read of the wanted buckets'
        directories with the term_id filter checked against each row
        group's statistics, then an Arrow join — no Spark job. Spark
        mode is a bucket PartitionFilter, a term_id IN filter and a
        broadcast join.
        """
        nb = int(self.stats_row()["n_term_buckets"])
        scan = self.postings
        if isinstance(wanted, DataFrame):
            if local:
                raise ValueError("local postings reads take driver-local rows")
            keys = wanted
            buckets = sorted(
                int(r[0])
                for r in wanted.select(term_bucket(F.col("term_id"), nb))
                .distinct()
                .collect()
            )
        else:
            rows = list(wanted)
            if schema.split()[0] == "term":
                lut = self.lookup_terms([r[0] for r in rows])
                rows = [(lut[r[0]][0], *r) for r in rows if r[0] in lut]
                schema = "term_id long, " + schema
            if not rows:
                return None
            term_ids = sorted({r[0] for r in rows})
            buckets = sorted({term_bucket(t, nb) for t in term_ids})
            if local:
                names = [c.split()[0] for c in schema.split(",")]
                keys = pa.table(dict(zip(names, map(list, zip(*rows)))))
                blocks = ds.dataset(
                    [
                        ds.dataset(f"{self.path}/postings/bucket={b}", format="parquet")
                        for b in buckets
                    ]
                ).to_table(filter=pc.field("term_id").isin(term_ids))
                return blocks.join(keys, "term_id")
            keys = local_rows(spark, rows, schema)
            scan = scan.filter(F.col("term_id").isin(term_ids))
        if not buckets:
            return None
        return scan.filter(F.col("bucket").isin(buckets)).join(
            F.broadcast(keys), "term_id"
        )


def tokenized_docs(
    docs: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG, text_col: str = "text"
) -> DataFrame:
    """documents → (doc_id, tokens, dl); lang filter pushed into the scan.

    Tokenizes with the Arrow-batched Python UDF in worker processes:
    JDK-17 regex runs one thread at a time inside a JVM, so Python
    workers scale across cores where JVM regex expressions do not — the
    reference's own multiprocessing fan-out (keywords4cv.py:1673-1692),
    re-learned the Spark way.
    """
    from keywords4cv_spark.deploy import ensure_py_files
    from keywords4cv_spark.textprep.udfs import make_tokenize_udf

    if cfg.lang_filter and "lang" in docs.columns:
        docs = docs.filter(F.col("lang") == cfg.lang_filter)
    ensure_py_files(docs.sparkSession)
    tok = make_tokenize_udf(cfg.min_token_len, cfg.stopwords)
    out = docs.withColumn("tokens", tok(F.col(text_col)))
    if cfg.ngram_hi > 1:
        out = out.withColumn("terms", ngrams_col(F.col("tokens"), cfg.ngram_lo, cfg.ngram_hi))
    else:
        out = out.withColumn("terms", F.col("tokens"))
    # dl is the unigram token count (BM25 document length), not n-gram count
    return out.withColumn("dl", F.size("tokens"))


def term_frequencies(toks: DataFrame, with_positions: bool = False) -> DataFrame:
    """(doc_id, term, tf, dl[, positions]) — one shuffle, partial agg map-side.

    ``with_positions`` collects the ascending token positions per
    (doc, term) for positional (phrase-capable) indexes; positions are
    only meaningful over the unigram token stream (ngram_hi == 1).
    """
    if not with_positions:
        return (
            toks.select("doc_id", "dl", F.explode("terms").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
        )
    return (
        toks.select("doc_id", "dl", F.posexplode("terms").alias("pos", "term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count("*").alias("tf"),
            F.max("dl").alias("dl"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )


def term_frequencies_fused(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    with_positions: bool = False,
    text_col: str = "text",
) -> DataFrame:
    """tokenize + per-doc tf in ONE Python pass — no corpus-sized shuffle.

    Every (doc_id, term) group of the tf relation lives inside one
    document row, so it is computable row-locally: the classic
    explode + groupBy path (``term_frequencies``) shuffles the whole
    corpus to compute an aggregate whose groups never cross input rows.
    This mapper emits the identical relation (parity-pinned in
    tests/test_index_bm25.py) straight out of the tokenizer's Arrow
    batch, which (a) leaves the encode repartition as the build's ONLY
    corpus-sized shuffle and (b) shrinks Arrow return traffic to the
    per-doc unique (term, tf) rows instead of the full token arrays.
    Counting is batch-vectorized (one pandas hash-groupby per Arrow
    batch, no per-token Python).
    """
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(docs.sparkSession)
    if with_positions and cfg.ngram_hi != 1:
        raise ValueError("positional tf requires unigram terms (ngram_hi == 1)")
    if cfg.lang_filter and "lang" in docs.columns:
        docs = docs.filter(F.col("lang") == cfg.lang_filter)
    min_len, stop = cfg.min_token_len, cfg.stopwords
    lo, hi = cfg.ngram_lo, cfg.ngram_hi
    schema = "doc_id long, term string, tf long, dl int" + (
        ", positions array<int>" if with_positions else ""
    )
    out_cols = ["doc_id", "term", "tf", "dl"] + (
        ["positions"] if with_positions else []
    )

    def tf_batches(it):
        import numpy as np

        from keywords4cv_spark.textprep.normalize import generate_ngrams, tokenize

        for pdf in it:
            if pdf.empty:
                continue
            toks = [tokenize(t, min_len, stop) for t in pdf[text_col]]
            dl = np.fromiter((len(t) for t in toks), dtype=np.int32, count=len(toks))
            terms = [generate_ngrams(t, lo, hi) for t in toks] if hi > 1 else toks
            lens = np.fromiter((len(t) for t in terms), dtype=np.int64, count=len(terms))
            total = int(lens.sum())
            if total == 0:
                continue
            flat = np.empty(total, dtype=object)
            i = 0
            for t in terms:
                flat[i : i + len(t)] = t
                i += len(t)
            d_idx = np.repeat(np.arange(len(terms)), lens)
            rows = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[d_idx],
                    "term": flat,
                    "dl": dl[d_idx],
                }
            )
            # dl is functionally dependent on doc_id — riding it in the
            # group key costs nothing and keeps it without a join
            if with_positions:
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                rows["pos"] = (np.arange(total) - starts[d_idx]).astype("int32")
                grp = rows.groupby(["doc_id", "term", "dl"], sort=False)["pos"]
                agg = pd.DataFrame(
                    {"tf": grp.size(), "positions": grp.agg(list)}
                ).reset_index()
            else:
                agg = (
                    rows.groupby(["doc_id", "term", "dl"], sort=False)
                    .size()
                    .reset_index(name="tf")
                )
            agg["tf"] = agg["tf"].astype("int64")
            yield agg[out_cols]

    return docs.select("doc_id", text_col).mapInPandas(tf_batches, schema)


def assign_term_ids(agg: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Add a deterministic dense ``term_id`` (1..V in term order) — parallel.

    ``Window.orderBy("term")`` with no partitionBy funnels the entire
    vocabulary through ONE task — the 1e9-term blocker at web scale.
    Instead: range-partition by term → per-partition counts (one
    driver-small collect, |counts| = #partitions) → broadcast cumulative
    offsets → within-partition row_number + offset. Because range
    partitions are ordered and disjoint, the id equals the term's global
    rank regardless of where the sampled range boundaries land, so ids
    are deterministic across runs (resume-safe) and every stage is
    parallel.

    The returned DataFrame keeps a handle to its persisted staging
    relation in ``._k4cv_staged``; callers may unpersist it once the
    result is materialized.
    """
    spark = agg.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    parted = (
        agg.repartitionByRange(n, "term")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        int(r["pid"]): int(r["cnt"])
        for r in parted.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets, "pid int, id_offset long")
    w = Window.partitionBy("pid").orderBy("term")
    out = (
        parted.join(F.broadcast(off_df), "pid")
        .withColumn(
            "term_id", (F.row_number().over(w) + F.col("id_offset")).cast("long")
        )
        .drop("pid", "id_offset")
    )
    out._k4cv_staged = parted
    out._k4cv_vocab_size = acc  # |V| known driver-side for free
    return out


def build_dictionary(tf_df: DataFrame) -> DataFrame:
    """(term, term_id, df, cf, h). term_id = dense rank of term
    (deterministic). ``h`` is the per-term content fingerprint
    bit_xor(xxhash64(term, doc_id, tf[, positions])) computed IN THE SAME
    shuffle as df/cf — one extra agg expression, zero extra jobs. XOR is
    associative and commutative, so per-BUCKET input fingerprints are
    the XOR of ``h`` over the bucket's terms: a vocabulary-sized agg
    instead of the postings-sized second pass this replaces (the
    non-scaling ~fixed-cost stage in BENCH/BASELINE.md's r2 attribution
    table). Positions are hashed when the tf rows carry them: a
    positional payload changes when a doc's words move even if its
    (term, tf) rows do not."""
    hashed = ["term", "doc_id", "tf"] + (
        ["positions"] if "positions" in tf_df.columns else []
    )
    agg = tf_df.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.expr(f"bit_xor(xxhash64({', '.join(hashed)}))").alias("h"),
    )
    ids = assign_term_ids(agg)
    out = ids.select("term", "term_id", "df", "cf", "h")
    out._k4cv_staged = ids._k4cv_staged
    out._k4cv_vocab_size = ids._k4cv_vocab_size
    return out


def corpus_stats(toks: DataFrame, *extra: Column) -> DataFrame:
    # sum_dl kept exactly (long) so multi-generation stats combine without
    # float error: avgdl_global = Σ sum_dl / Σ n_docs. ``extra`` aggregates
    # ride the same pass.
    return toks.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *extra,
    )


def encode_step(cfg: EngineConfig, n_docs: int, avgdl: float):
    """The one encode step of every index writer: a (term_id, segment)
    group's frame (its first row gives term_id, segment and df) plus its
    doc_id/tf/dl arrays and optional per-doc positions → that run's
    posting blocks as POSTINGS_SCHEMA rows, scored against (n_docs,
    avgdl). encode_postings sorts the run by doc_id (stable) and
    reorders the positions with the same permutation."""
    k1, b, block_size = cfg.k1, cfg.b, cfg.block_size

    def encode(pdf: pd.DataFrame, doc_ids, tfs, dls, positions=None) -> pd.DataFrame:
        import numpy as np

        df_val = int(pdf["df"].iloc[0])
        idf = float(np.log(1.0 + (n_docs - df_val + 0.5) / (df_val + 0.5)))
        out = pd.DataFrame(
            encode_postings(
                doc_ids, tfs, dls, idf, k1, b, avgdl, block_size, positions=positions
            )
        )
        out.insert(0, "segment", int(pdf["segment"].iloc[0]))
        out.insert(0, "term_id", int(pdf["term_id"].iloc[0]))
        return out

    return encode


def row_encoder(cfg: EngineConfig):
    """Group-function factory of the build (and of the purging
    compaction): (n_docs, avgdl) → the encoder of a (term_id, segment)
    group of posting rows (doc_id, tf, dl[, positions])."""

    def make(n_docs: int, avgdl: float):
        encode = encode_step(cfg, n_docs, avgdl)

        def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            positions = (
                [np.asarray(p, dtype=np.int64) for p in pdf["positions"]]
                if "positions" in pdf.columns
                else None
            )
            return encode(
                pdf,
                pdf["doc_id"].to_numpy(),
                pdf["tf"].to_numpy(),
                pdf["dl"].to_numpy(),
                positions,
            )

        return encode_group

    return make


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    resume: bool = True,
    doc_id_col: str = "doc_id",
    url_col: str | None = None,
) -> IndexTables:
    """Build (or resume) the full index under ``index_dir``."""
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    docs = docs.withColumnRenamed(doc_id_col, "doc_id")

    if cfg.store_positions and cfg.ngram_hi != 1:
        raise ValueError("positional indexes require unigram terms (ngram_hi == 1)")
    # ONE tokenize pass, ONE cached relation (the compact tf rows).
    # Caching the tokenized terms arrays as well (a second corpus-sized
    # cache) is pure memory-bus traffic that serializes the build as
    # thread count grows — docmeta/stats are recoverable from tf plus a
    # slim column-pruned scan of the source table instead. The tf rows
    # come out of the tokenize batch itself (term_frequencies_fused): no
    # explode, no corpus-sized tf shuffle.
    tf_df = term_frequencies_fused(
        docs, cfg, with_positions=cfg.store_positions
    ).persist()
    dictionary = build_dictionary(tf_df).persist()

    # --- postings per term bucket, with lineage + verified resume ---
    # segment = doc band: pmod(doc_id, n_salts) for EVERY term. Head-term
    # skew is bounded by construction, and because the bands partition the
    # doc space identically for all terms, query-time scoring parallelizes
    # per (query, band) with an exact rank-merge (query/wand.py). A tail
    # term pays at most n_salts-1 extra (tiny) blocks — noise against the
    # head terms that dominate postings volume.
    #
    # Join strategy: |V| is known driver-side for free (assign_term_ids
    # offsets). A broadcastable dictionary turns this into a map-side join
    # over the CACHED tf relation; at web vocabulary (1e9 terms) the join
    # shuffles sort-merge instead. Either way the join output is shuffled
    # ONCE into the (term_id, segment) encode partitioning and persisted
    # as FIXED-WIDTH rows (the term string is dropped after the join —
    # term_id carries it). Each bucket job then filters this cache with
    # zero additional exchange: filter preserves the hash partitioning,
    # so the per-bucket groupBy(term_id, segment) reuses it instead of
    # re-scanning the string-heavy tf cache + re-probing the dictionary +
    # re-shuffling per bucket (the r4 layout did all three n_bucket
    # times — measured redundant DRAM traffic on a bandwidth-bound job).
    vocab_size = getattr(dictionary, "_k4cv_vocab_size", None)
    small_vocab = vocab_size is not None and vocab_size <= cfg.broadcast_vocab_limit
    dict_side = dictionary.select("term", "term_id", "df")
    if small_vocab:
        dict_side = F.broadcast(dict_side)
    posted_cols = ["term_id", "df", "doc_id", "tf", "dl"]
    if cfg.store_positions:
        posted_cols.append("positions")
    posted = (
        tf_df.join(dict_side, "term")
        .withColumn("segment", F.pmod(F.col("doc_id"), F.lit(cfg.n_salts)).cast("int"))
        .withColumn("bucket", term_bucket(F.col("term_id"), cfg.n_term_buckets))
        .select("segment", "bucket", *posted_cols)
        .repartition(cfg.shuffle_partitions, "term_id", "segment")
        .persist()
    )
    # order-independent content fingerprint per bucket: the term half of
    # each bucket's lineage input_hash (write_index XORs in the index
    # fingerprint). The per-term hashes were computed inside the
    # dictionary aggregation (build_dictionary), so this is a |V|-row
    # agg — the postings-sized fingerprint pass that used to sit here was
    # the one non-scaling stage in the r2 profile. (Hashing (term, doc,
    # tf) rather than term_id loses nothing: term_id is the deterministic
    # global term rank, itself a pure function of the hashed content.)
    hashes: dict[int, int] = {
        int(r["b"]): int(r["h"])
        for r in dictionary.select(
            term_bucket(F.col("term_id"), cfg.n_term_buckets).alias("b"), "h"
        )
        .groupBy("b")
        .agg(F.expr("bit_xor(h)").alias("h"))
        .collect()
    }
    # docmeta = slim source scan ⋈ per-doc dl from the cached tf rows
    # (dl rides on every tf row; docs whose kept-token list is empty
    # have no tf rows and get dl = 0 — same value a tokenize pass
    # would produce). The source scan prunes to 2-3 columns.
    slim_cols = [F.col("doc_id")]
    if url_col and url_col in docs.columns:
        slim_cols.append(F.col(url_col).alias("url"))
    slim = docs.select(*slim_cols, *(
        [F.col("lang")] if cfg.lang_filter and "lang" in docs.columns else []
    ))
    if cfg.lang_filter and "lang" in docs.columns:
        slim = slim.filter(F.col("lang") == cfg.lang_filter).drop("lang")
    dls = tf_df.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    docmeta = slim.join(dls, "doc_id", "left").withColumn(
        "dl", F.coalesce(F.col("dl"), F.lit(0)).cast("long")
    )
    try:
        return write_index(
            spark, index_dir, cfg, dictionary, docmeta, posted, row_encoder(cfg),
            hashes=hashes, resume=resume,
        )
    finally:
        tf_df.unpersist()


def write_index(
    spark: SparkSession,
    index_dir: str,
    cfg: EngineConfig,
    dictionary: DataFrame,
    docmeta: DataFrame,
    posted: DataFrame,
    make_group_fn,
    hashes: dict[int, int] | None = None,
    resume: bool = False,
) -> IndexTables:
    """The one index writer: commits ``dictionary/``, ``docmeta/``,
    ``stats/`` and, per term bucket, ``postings/bucket=N`` with its
    ``_lineage/bucket=N`` row. build_index and both modes of
    compact_generations call it; no other code writes index tables.

    - ``dictionary``: (term, term_id, df, cf, ...), written as those four
      columns;
    - ``docmeta``: (doc_id[, url], dl), one row per indexed doc;
    - ``posted``: hash-partitioned on (term_id, segment), carrying a
      ``bucket`` column (``term_bucket`` of term_id);
    - ``make_group_fn(n_docs, avgdl)``: the per-(term_id, segment) group
      function that turns a group of ``posted`` into POSTINGS_SCHEMA rows;
    - ``hashes``: bucket → term-content hash (the build's; a compaction
      has none and never resumes).

    ``stats`` is one aggregate over the written docmeta; its
    ``input_hash`` is the index fingerprint, bit_xor(xxhash64(row)) over
    the docmeta rows XOR xxhash64 of the layout and scoring config.
    Each bucket records ``hashes[bucket] ^ fingerprint``; with ``resume``
    a bucket whose dir carries ``_SUCCESS`` and whose lineage row records
    that value is kept, every other bucket is (re)written. Bucket dirs
    at or beyond ``cfg.n_term_buckets`` (left by an index with more
    buckets) are removed first. The persisted ``posted`` and
    ``dictionary`` (with its staged relation) are unpersisted on return.
    """
    nb = cfg.n_term_buckets
    hashes = hashes or {}
    try:
        os.makedirs(index_dir, exist_ok=True)
        for table in ("postings", "_lineage"):
            base = os.path.join(index_dir, table)
            for d in os.listdir(base) if os.path.isdir(base) else ():
                if d.startswith("bucket=") and int(d.split("=", 1)[1]) >= nb:
                    shutil.rmtree(os.path.join(base, d))
        dictionary.select("term", "term_id", "df", "cf").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/dictionary")
        docmeta.write.mode("overwrite").parquet(f"{index_dir}/docmeta")
        written = spark.read.parquet(f"{index_dir}/docmeta")
        config_hash = F.xxhash64(
            *(F.lit(v) for v in (cfg.k1, cfg.b, cfg.block_size, cfg.n_salts, nb,
                                 cfg.store_positions))
        )
        corpus_stats(
            written, F.bit_xor(F.xxhash64(*written.columns)).alias("fp")
        ).select(
            "n_docs", "avgdl", "sum_dl",
            F.lit(cfg.k1).alias("k1"),
            F.lit(cfg.b).alias("b"),
            F.lit(nb).alias("n_term_buckets"),
            F.lit(cfg.store_positions).alias("store_positions"),
            F.col("fp").bitwiseXOR(config_hash).alias("input_hash"),
            F.lit(DOC_BAND_LAYOUT).alias("layout"),
        ).write.mode("overwrite").parquet(f"{index_dir}/stats")
        srow = spark.read.parquet(f"{index_dir}/stats").collect()[0]
        if not srow["n_docs"]:
            raise ValueError(
                f"{index_dir}: corpus is empty after filtering "
                f"(lang_filter={cfg.lang_filter!r}) — nothing to index"
            )
        n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"])
        want = {b: hashes.get(b, 0) ^ int(srow["input_hash"]) for b in range(nb)}

        committed = _committed_buckets(index_dir, nb) if resume else set()
        # a committed bucket is kept ONLY if its recorded input_hash
        # matches; one with no lineage row (crash between the postings
        # commit and the lineage commit) or a stale hash is rewritten —
        # overwrite is idempotent
        prev = _lineage_hashes(spark, index_dir) if committed else {}
        todo = [b for b in range(nb) if not (b in committed and prev.get(b) == want[b])]
        group_fn = make_group_fn(n_docs, avgdl)

        def write_bucket(bucket: int) -> None:
            started = time.time()
            # filter preserves posted's (term_id, segment) hash
            # partitioning, so this groupBy plans with NO exchange
            # (asserted in test_plans)
            blocks = (
                posted.filter(F.col("bucket") == bucket)
                .groupBy("term_id", "segment")
                .applyInPandas(group_fn, POSTINGS_SCHEMA)
            )
            # the parquet _SUCCESS marker of this bucket dir IS the atomic
            # per-partition commit (Iceberg-snapshot analog); resume keys
            # on it. sortWithinPartitions gives each file tight term_id
            # min/max stats → query-time rowgroup pruning on top of the
            # bucket-dir pruning
            blocks.sortWithinPartitions("term_id", "segment", "block_id").write.mode(
                "overwrite"
            ).parquet(f"{index_dir}/postings/bucket={bucket}")
            # read-back metrics + the bucket's own lineage commit. These
            # extra per-bucket jobs run INSIDE the concurrent bucket
            # threads, so their fixed scheduling costs overlap instead of
            # adding a serial tail.
            s = (
                spark.read.parquet(f"{index_dir}/postings/bucket={bucket}")
                .agg(
                    F.coalesce(F.sum("n"), F.lit(0)).alias("rows"),
                    F.count("*").alias("n_blocks"),
                    F.countDistinct("term_id").alias("n_terms"),
                    F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias(
                        "payload_bytes"
                    ),
                )
                .collect()[0]
            )
            row = pd.DataFrame(
                [
                    {
                        "status": "complete",
                        "rows": int(s["rows"]),
                        "n_blocks": int(s["n_blocks"]),
                        "n_terms": int(s["n_terms"]),
                        "payload_bytes": int(s["payload_bytes"]),
                        "input_hash": want[bucket],
                        "started_ts": started,
                        "finished_ts": time.time(),
                    }
                ]
            )
            spark.createDataFrame(row, LINEAGE_SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{index_dir}/_lineage/bucket={bucket}")

        if todo:
            # submit ALL bucket jobs concurrently: each commits
            # independently (per-partition checkpoint granularity) and
            # their fixed per-job scheduling/worker-spin-up costs overlap
            # instead of serializing
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(todo))) as ex:
                list(ex.map(write_bucket, todo))
    finally:
        staged = getattr(dictionary, "_k4cv_staged", None)
        for rel in (posted, dictionary, staged):
            if rel is not None:
                rel.unpersist()
    return load_index(spark, index_dir)


def _committed_buckets(index_dir: str, n_buckets: int) -> set[int]:
    """Buckets whose parquet dir carries the atomic _SUCCESS commit marker."""
    return {
        b
        for b in range(n_buckets)
        if os.path.exists(os.path.join(index_dir, "postings", f"bucket={b}", "_SUCCESS"))
    }


def _lineage_hashes(spark: SparkSession, index_dir: str) -> dict[int, int]:
    """bucket → recorded input_hash for every committed lineage row."""
    base = os.path.join(index_dir, "_lineage")
    if not os.path.isdir(base):
        return {}
    dirs = [
        os.path.join(base, d)
        for d in os.listdir(base)
        if d.startswith("bucket=")
        and os.path.exists(os.path.join(base, d, "_SUCCESS"))
    ]
    if not dirs:
        return {}
    return {
        int(r["bucket"]): int(r["input_hash"])
        for r in spark.read.option("basePath", base)
        .parquet(*dirs)
        .filter(F.col("status") == "complete")
        .select("bucket", "input_hash")
        .collect()
    }


def load_index(spark: SparkSession, index_dir: str) -> IndexTables:
    """Open an index tree; refuses layouts the query plans can't serve.

    Band-grouped WAND/phrase plans assume `segment` is a doc band — an
    index without the doc-band layout marker would return silently
    WRONG top-k (a doc's per-term postings split across groups), so the
    check is a hard error, not a warning. The stats row is collected
    once here and seeded into IndexTables' cache (queries were paying
    this round-trip on first stats_row() anyway).
    """
    stats = spark.read.parquet(f"{index_dir}/stats")
    if "layout" not in stats.columns:
        raise ValueError(
            f"index at {index_dir!r} predates the doc-band layout marker "
            "(engine < 0.4): rebuild with build_index — band-grouped "
            "query plans would silently mis-rank on this layout"
        )
    srow = stats.collect()[0]
    if srow["layout"] != DOC_BAND_LAYOUT:
        raise ValueError(
            f"index at {index_dir!r} has layout {srow['layout']!r}; "
            f"this engine serves {DOC_BAND_LAYOUT!r} only"
        )
    return IndexTables(
        dictionary=spark.read.parquet(f"{index_dir}/dictionary"),
        postings=spark.read.option("basePath", f"{index_dir}/postings").parquet(
            f"{index_dir}/postings"
        ),
        docmeta=spark.read.parquet(f"{index_dir}/docmeta"),
        stats=stats,
        lineage=spark.read.option("basePath", f"{index_dir}/_lineage").parquet(
            f"{index_dir}/_lineage"
        ),
        path=index_dir.rstrip("/"),
        _stats_row=srow,
    )
