"""Block-Max WAND top-k over the compressed posting index.

The north-star operator (BASELINE.json north_rule): document-at-a-time
top-k with two pruning levels —

- WAND pivoting on per-list global max contribution, and
- block-max skipping: the current block's upper bound refines the
  global bound, and doc ranges whose block bounds can't beat the heap
  threshold are jumped without decoding any payload.

One driver (``_wand_topk``) serves one index and a list of index
generations alike; ``bm25_wand`` is its one-generation call (with
search-after cursors) and ``bm25_wand_multi`` its multi-generation call
(with tombstones). Query terms resolve driver-side (the memoized
dictionary probe, a pyarrow read on a miss), which gives the batch's
posting count, Σ df over its (query, term, generation) rows, before any
block is read. Two shapes, one kernel (``_group_topk``):

- driver (batches at or under ``EngineConfig.wand_driver_max_postings``,
  with at most that many tombstones): per generation, a pyarrow read of
  the bucket-directory and term_id pruned blocks
  (``IndexTables.postings_for(local=True)``) → the (query, band) groups
  scored in-process → rank-merge in Python → an Arrow local relation.
  Zero Spark jobs, tombstones included: the batch collects the
  ``exclude`` relation, which runs no job when it is the local relation
  ``superseded_docs`` returns for a set under the gate.
  At serving scale a warm query's cost is the per-job scheduling floor
  of the Spark shape, not scoring work, so small batches stay here.
- Spark (larger batches): per generation, the blocks from
  ``IndexTables.postings_for`` → union (generations only) →
  ``groupBy(query_id, segment).applyInPandas`` → ``rank_topk``.

Segments are DOC BANDS (segment = doc_id % n_salts at build time, the
same partition of the doc space for every term), so the (query, band)
groups are independent exact WAND problems: a doc's postings for all
query terms share one band. Each band emits its local top-k; the
global top-k is a subset of the union (fewer than k docs beat a global
top-k doc overall, hence within its band), so rank_topk over the
union of partials is EXACT. This keeps a Zipf head term ("the") from
funneling a query's whole block set into one Arrow task — query-time
parallelism is n_salts × n_queries (VERDICT r1 #6).

Rank-identity vs the brute-force scorer (and the DuckDB oracle): the
final ordering everywhere is (round(score, 6) DESC, doc_id ASC). The
heap uses exactly that key, and pruning keeps a 1e-6 margin below the
k-th rounded score so a candidate that would tie after rounding (and
win on doc_id) is never skipped.
"""

from __future__ import annotations

import heapq
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.index.build import IndexTables
from keywords4cv_spark.index.codec import bm25_contrib, decode_block
from keywords4cv_spark.query.bm25 import SCORE_DECIMALS, rank_topk, round6
from keywords4cv_spark.query.fixtures import TOP_K, query_term_pairs

# prune margin: half-ulp of round(.,6) plus float-noise headroom
MARGIN = 10.0 ** (-SCORE_DECIMALS) + 1e-9
EXHAUSTED = np.iinfo(np.int64).max


class _Cursor:
    """One posting run (term, segment): block-level skips, lazy decode."""

    __slots__ = (
        "idf", "k1", "b", "avgdl", "first", "last", "maxs", "payloads", "ns",
        "nblocks", "bi", "docs", "tfs", "dls", "cur_doc", "decoded_pos",
        "global_ub",
    )

    def __init__(self, idf, k1, b, avgdl, first, last, maxs, payloads, ns):
        order = np.argsort(first, kind="stable")
        self.idf, self.k1, self.b, self.avgdl = idf, k1, b, avgdl
        self.first, self.last, self.maxs = first[order], last[order], maxs[order]
        self.payloads = [payloads[i] for i in order]
        self.ns = ns[order]
        self.nblocks = len(self.payloads)
        self.bi = 0
        self.docs = self.tfs = self.dls = None
        self.decoded_pos = -1
        self.global_ub = float(self.maxs.max()) if self.nblocks else 0.0
        self.cur_doc = int(self.first[0]) if self.nblocks else EXHAUSTED

    def exhausted(self) -> bool:
        return self.cur_doc == EXHAUSTED

    def block_ub(self) -> float:
        return float(self.maxs[self.bi]) if self.bi < self.nblocks else 0.0

    def block_last(self) -> int:
        return int(self.last[self.bi]) if self.bi < self.nblocks else EXHAUSTED

    def _enter_block(self, bi: int):
        self.bi = bi
        self.docs = self.tfs = self.dls = None
        self.decoded_pos = -1

    def _decode(self):
        if self.docs is None:
            self.docs, self.tfs, self.dls = decode_block(
                self.payloads[self.bi], int(self.ns[self.bi]), int(self.first[self.bi])
            )

    def next_geq(self, target: int):
        """Advance to the first posting with doc >= target.

        Whole-block skips never decode; only landing inside a block
        decodes its payload. cur_doc may be a *shallow* bound (the
        block's first_doc) when the block hasn't been entered yet —
        that is exact, since first_doc is a real posting.
        """
        if self.cur_doc >= target:
            return
        bi = self.bi
        while bi < self.nblocks and self.last[bi] < target:
            bi += 1
        if bi != self.bi:
            self._enter_block(bi)
        if bi >= self.nblocks:
            self.cur_doc = EXHAUSTED
            return
        if target <= self.first[bi]:
            self.cur_doc = int(self.first[bi])
            return
        self._decode()
        idx = int(np.searchsorted(self.docs, target, side="left"))
        # last[bi] >= target guarantees idx is in range
        self.decoded_pos = idx
        self.cur_doc = int(self.docs[idx])

    def score_current(self) -> float:
        """Exact BM25 contribution at cur_doc (decodes current block)."""
        self._decode()
        if self.decoded_pos < 0 or self.docs[self.decoded_pos] != self.cur_doc:
            self.decoded_pos = int(np.searchsorted(self.docs, self.cur_doc, side="left"))
        i = self.decoded_pos
        return float(
            bm25_contrib(
                self.tfs[i : i + 1], self.dls[i : i + 1],
                self.idf, self.k1, self.b, self.avgdl,
            )[0]
        )

    def advance(self):
        self.next_geq(self.cur_doc + 1)


def _single_cursor_topk(
    c: _Cursor, k: int, excluded: frozenset[int]
) -> list[tuple[int, float]]:
    """Vectorized top-k for a one-term (query, band) group.

    The DAAT pivot loop degenerates to a per-posting Python iteration
    when there is a single list — ~30 µs/posting, which for a Zipf head
    term is the whole cost of the scoring stage. Here blocks are
    processed in DESCENDING block-max order with numpy decode+score
    (C speed), and once k candidates are banked every remaining block
    whose max can't beat the k-th rounded score (minus the usual
    rounding margin) is skipped without decoding — the same block-max
    pruning, battery-powered by argsort instead of a heap. Returns a
    small SUPERSET of the band top-k near the rounding boundary
    (2·MARGIN slack, covering the half-even-vs-half-up gap between
    numpy and Spark rounding); rank_topk applies the exact final
    ordering and cut."""
    if not c.nblocks:
        return []
    order = np.argsort(-c.maxs, kind="stable")
    doc_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    banked = 0
    theta = -np.inf
    for bi in order:
        if float(c.maxs[bi]) < theta:
            break
        docs, tfs, dls = decode_block(
            c.payloads[bi], int(c.ns[bi]), int(c.first[bi])
        )
        s = bm25_contrib(tfs, dls, c.idf, c.k1, c.b, c.avgdl)
        if excluded:
            keep = np.array([d not in excluded for d in docs], dtype=bool)
            docs, s = docs[keep], s[keep]
        if not docs.size:
            continue
        doc_parts.append(docs)
        score_parts.append(s)
        banked += docs.size
        if banked >= k:
            all_s = np.concatenate(score_parts)
            rk = float(np.partition(np.round(all_s, SCORE_DECIMALS), -k)[-k])
            theta = rk - 2.0 * MARGIN
    if not doc_parts:
        return []
    docs = np.concatenate(doc_parts)
    s = np.concatenate(score_parts)
    r = np.round(s, SCORE_DECIMALS)
    if docs.size > k:
        rk = float(np.partition(r, -k)[-k])
        keep = r >= rk - 2.0 * MARGIN
        docs, s = docs[keep], s[keep]
    return [(int(d), float(x)) for d, x in zip(docs, s)]


def _taat_topk(
    cursors: list[_Cursor], k: int, excluded: frozenset[int]
) -> list[tuple[int, float]]:
    """Vectorized exact scoring for a small multi-list group: decode all
    blocks, per-doc sum via factorized scatter-add, top-k cut with the
    same 2·MARGIN rounding-boundary slack as _single_cursor_topk (the
    returned rows are a small superset near the boundary; rank_topk
    applies the exact final ordering)."""
    doc_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    for c in cursors:
        for bi in range(c.nblocks):
            docs, tfs, dls = decode_block(
                c.payloads[bi], int(c.ns[bi]), int(c.first[bi])
            )
            doc_parts.append(docs)
            score_parts.append(
                bm25_contrib(tfs, dls, c.idf, c.k1, c.b, c.avgdl)
            )
    if not doc_parts:
        return []
    docs = np.concatenate(doc_parts)
    s = np.concatenate(score_parts)
    uniq, inv = np.unique(docs, return_inverse=True)
    agg = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(agg, inv, s)
    if excluded:
        keep = np.array([d not in excluded for d in uniq], dtype=bool)
        uniq, agg = uniq[keep], agg[keep]
    if not uniq.size:
        return []
    r = np.round(agg, SCORE_DECIMALS)
    if uniq.size > k:
        rk = float(np.partition(r, -k)[-k])
        keep = r >= rk - 2.0 * MARGIN
        uniq, agg = uniq[keep], agg[keep]
    return [(int(d), float(x)) for d, x in zip(uniq, agg)]


def _bmw_one_query(
    cursors: list[_Cursor],
    k: int,
    excluded: frozenset[int],
    after: tuple[float, int] | None,
    taat_max_postings: int,
) -> list[tuple[int, float]]:
    """Block-Max WAND → [(doc_id, exact_score)] of the top-k candidates.

    Heap key is (round(score, 6), -doc_id) — the exact final ordering —
    so the returned set IS the deterministic top-k.

    ``excluded`` are tombstoned docs (superseded recrawls — see
    index/upsert.py): they are never scored or pushed to the heap, and
    skipping them keeps every bound valid (exclusion only removes
    candidates; it can't raise any doc's score past an upper bound).

    ``after`` = (rounded_score, doc_id) search-after cursor: only docs
    ranked STRICTLY after it (key (round(score,6), -doc_id) below the
    cursor's) enter the heap. The threshold stays heap-based — page-2
    scores sit BELOW the cursor, so seeding θ at the cursor score would
    wrongly prune them; the cursor's payoff is a bounded heap per page
    (k, not page·k) regardless of depth, unlike offset pagination.

    Without a cursor, a one-list group and a multi-list group of at most
    ``taat_max_postings`` postings (``EngineConfig.wand_taat_max_postings``)
    take the vectorized exact scorers: below the gate, decoding every
    block in numpy beats document-at-a-time pivoting in Python (~30 µs
    per candidate); above it, WAND's doc-aligned pruning repays the
    loop. The gate is on the GROUP's postings, so head-term bands at
    web scale keep the pruning path.
    """
    if after is None:
        if len(cursors) == 1:
            return _single_cursor_topk(cursors[0], k, excluded)
        if sum(int(c.ns.sum()) for c in cursors) <= taat_max_postings:
            return _taat_topk(cursors, k, excluded)
    heap: list[tuple[float, int]] = []
    after_key = (after[0], -after[1]) if after is not None else None

    def threshold() -> float:
        return heap[0][0] - MARGIN if len(heap) >= k else -np.inf

    live = sorted((c for c in cursors if not c.exhausted()), key=lambda c: c.cur_doc)
    while live:
        theta = threshold()
        # --- WAND pivot over global upper bounds ---
        acc = 0.0
        pivot_doc = -1
        for c in live:
            acc += c.global_ub
            if acc > theta:
                pivot_doc = c.cur_doc
                break
        if pivot_doc < 0:
            break  # even all lists together can't beat the threshold

        # --- align every list that could contain the pivot ---
        # (includes lists tied on cur_doc beyond the pivot index — omitting
        # them undercounts the bound and wrongly skips docs)
        for c in live:
            if c.cur_doc < pivot_doc:
                c.next_geq(pivot_doc)
        holders = [c for c in live if c.cur_doc == pivot_doc]
        if holders and pivot_doc in excluded:
            for c in holders:
                c.advance()
        elif holders:
            # block-max refinement: exact current-block bounds at the pivot
            block_acc = sum(c.block_ub() for c in holders)
            if block_acc > theta:
                score = sum(c.score_current() for c in holders)
                item = (round(score, SCORE_DECIMALS), -pivot_doc, score)
                if after_key is not None and item[:2] >= after_key:
                    pass  # at-or-before the cursor: belongs to earlier pages
                elif len(heap) < k:
                    heapq.heappush(heap, item)
                elif item[:2] > heap[0][:2]:
                    heapq.heapreplace(heap, item)
                for c in holders:
                    c.advance()
            else:
                # these blocks can't beat the threshold for ANY doc they
                # cover: jump to the nearest block boundary, clamped by the
                # first unaccounted list's cursor
                boundary = min(c.block_last() for c in holders) + 1
                others = [c.cur_doc for c in live if c.cur_doc > pivot_doc]
                nxt = min(others) if others else EXHAUSTED
                target = max(pivot_doc + 1, min(boundary, nxt))
                for c in holders:
                    c.next_geq(target)
        live = sorted((c for c in live if not c.exhausted()), key=lambda c: c.cur_doc)
    return [(-nd, exact) for _, nd, exact in heap]


def bm25_wand(
    spark: SparkSession,
    index: IndexTables,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    queries: list[tuple[int, str]] | list[tuple[int, str, float]] | None = None,
    after: dict[int, tuple[float, int]] | None = None,
) -> DataFrame:
    """BM25 top-k via Block-Max WAND; rank-identical to bm25_brute_force.

    ``queries`` rows may carry an optional third element: a per-term
    WEIGHT (query-time synonym/abbreviation expansion gives expanded
    terms a sub-1.0 weight). A weight w scales the term's contribution
    as w·idf — and the block-max bound is scaled by the same w, so WAND
    pruning stays exact at any positive weight.

    ``after``: per-query search-after cursor {query_id: (rounded_score,
    doc_id)} — returns the NEXT k results ranked strictly after the
    cursor. Cursor pagination keeps every page a k-sized heap problem
    (offset pagination at depth d needs a d·k heap). Queries absent
    from the dict paginate from the top as usual.
    """
    return _wand_topk(spark, [index], cfg, k, queries, after=after)


def bm25_wand_multi(
    spark: SparkSession,
    indexes: list[IndexTables],
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    queries: list[tuple[int, str]] | None = None,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Rank-exact BM25 top-k across multiple index generations.

    The LSM-style incremental story: each crawl batch becomes its own
    small index (cheap append-only build over NEW docs); queries merge
    generations at read time — doc_id spaces are disjoint, df/N/avgdl
    combine exactly (sum_dl is stored as an integer). Results are
    rank-identical to a full rebuild over the union (tested).
    Compaction = build_index over the union when generations pile up.

    ``exclude``: optional (doc_id) DataFrame of tombstoned docs —
    superseded recrawl versions from ``index/upsert.py:superseded_docs``.
    Excluded docs are dropped from every result while statistics keep
    counting them (Lucene deleted-docs semantics; a purging compaction
    restores clean statistics). A batch served in the driver collects
    the tombstone set (at most ``cfg.wand_driver_max_postings`` rows;
    a larger set sends the batch to the Spark shape): derive the set
    once per generation list with ``superseded_docs`` and pass it to
    every batch, so that collect reads a local relation and runs no
    Spark job. An empty ``indexes`` list answers with an empty result.
    In the Spark shape tombstones travel as marker rows unioned into the
    block scan, partitioned to the same (query, doc-band) scoring tasks
    as the postings, and all generations must share ``cfg.n_salts`` (the
    band rule ``doc_id % n_salts`` is how a tombstone finds its scoring
    task).
    """
    return _wand_topk(spark, indexes, cfg, k, queries, exclude=exclude)


# a StructType, not DDL: parsing a DDL string costs a JVM round trip per call
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)
# the block columns one (query, band) group carries into the kernel
_BLOCK_COLS = [
    "query_id", "cursor", "segment", "first_doc", "last_doc",
    "n", "max_tf", "max_score", "payload", "df", "w",
]


class _Scoring(NamedTuple):
    """What every (query, band) group of one call scores with."""

    n_docs: int
    avgdl: float
    k1: float
    b: float
    stored_bounds: bool
    k: int
    taat_max_postings: int


def _group_topk(
    pdf: pd.DataFrame,
    sc: _Scoring,
    excluded: frozenset[int],
    after: tuple[float, int] | None,
) -> list[tuple[int, float]]:
    """Partial top-k of one (query, doc-band) group of block rows: one
    cursor per ``cursor`` key (term_id·G + generation) in ascending key
    order, then ``_bmw_one_query``. The Spark UDF and the driver loop
    both score through here, so the float sums run in the same order
    and the two paths return bit-identical scores."""
    cursors = []
    for _, g in pdf.groupby("cursor", sort=True):
        df_val = int(g["df"].iloc[0])
        w = float(g["w"].iloc[0])
        idf = w * float(np.log(1.0 + (sc.n_docs - df_val + 0.5) / (df_val + 0.5)))
        if sc.stored_bounds:
            # the stored bound scales with the weight, keeping pruning exact
            bound = w * g["max_score"].to_numpy(np.float64)
        else:
            bound = _tf_upper_bound(g["max_tf"].to_numpy(np.int64), idf, sc.k1, sc.b)
        cursors.append(
            _Cursor(
                idf, sc.k1, sc.b, sc.avgdl,
                g["first_doc"].to_numpy(np.int64),
                g["last_doc"].to_numpy(np.int64),
                bound,
                list(g["payload"]),
                g["n"].to_numpy(np.int64),
            )
        )
    return _bmw_one_query(cursors, sc.k, excluded, after, sc.taat_max_postings)


def _wand_topk(
    spark: SparkSession,
    indexes: list[IndexTables],
    cfg: EngineConfig,
    k: int,
    queries: list[tuple] | None,
    after: dict[int, tuple[float, int]] | None = None,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """The one Block-Max WAND driver, over one or more generations.

    Block bounds: one generation keeps the stored exact per-block
    ``max_score`` (its baked statistics ARE the query statistics, so
    stored avgdl and bound are exact). Over several generations a
    baked bound is stale under the combined statistics, so bounds are
    recomputed from ``max_tf`` (``_tf_upper_bound``), valid under any
    statistics.

    Where it runs: the batch's resolved postings, Σ df over its
    (query, term, generation) rows, are known from the dictionary probe
    before any block is read. At or under
    ``cfg.wand_driver_max_postings`` — and with at most that many
    tombstones — the batch is scored in the driver (``_driver_topk``);
    above it, by the ``applyInPandas`` plan (``_spark_topk``).
    """
    pairs = queries if queries is not None else query_term_pairs()
    pairs3 = [
        (p[0], p[1], float(p[2]) if len(p) > 2 else 1.0) for p in pairs
    ]
    stored_bounds = len(indexes) == 1
    srows = [idx.stats_row() for idx in indexes]
    n_docs = sum(int(r["n_docs"]) for r in srows)
    if stored_bounds:
        avgdl = float(srows[0]["avgdl"])
    else:  # no generation, no doc: nothing resolves, the result is empty
        avgdl = sum(int(r["sum_dl"]) for r in srows) / n_docs if n_docs else 0.0
    sc = _Scoring(n_docs, avgdl, cfg.k1, cfg.b, stored_bounds, k, cfg.wand_taat_max_postings)

    # global df per term = Σ generation df (doc spaces are disjoint),
    # from the memoized driver-side dictionary probe
    # (IndexTables.lookup_terms): repeated batches resolve from its cache
    terms = [t for _, t, _ in pairs3]
    luts = [idx.lookup_terms(terms) for idx in indexes]
    df_total: dict[str, int] = {}
    for lut in luts:
        for term, (_, df_val) in lut.items():
            df_total[term] = df_total.get(term, 0) + df_val
    qrows = [(t, qid, w, df_total[t]) for qid, t, w in pairs3 if t in df_total]
    gate = cfg.wand_driver_max_postings
    n_postings = sum(lut[t][1] for lut in luts for t, *_ in qrows if t in lut)
    if n_postings <= gate:  # always so when no term resolves
        excluded: list[int] = []
        if exclude is not None and qrows:
            excluded = [int(r[0]) for r in exclude.select("doc_id").limit(gate + 1).collect()]
        if len(excluded) <= gate:
            return _driver_topk(spark, indexes, qrows, sc, after or {}, frozenset(excluded))
    return _spark_topk(spark, indexes, qrows, sc, cfg.n_salts, after or {}, exclude)


def _driver_topk(
    spark: SparkSession,
    indexes: list[IndexTables],
    qrows: list[tuple],
    sc: _Scoring,
    after: dict[int, tuple[float, int]],
    excluded: frozenset[int],
) -> DataFrame:
    """The batch scored in the driver: per generation, a pyarrow read of
    the bucket- and term_id-pruned blocks (``postings_for(local=True)``),
    the (query, band) groups through ``_group_topk``, then an exact
    rank-merge of the partials on (round(score, 6) DESC, doc_id ASC) with
    Spark's rounding (``round6``). The result is made from an Arrow
    table: a local relation, so collecting it runs no Spark job, even
    when it is empty (``createDataFrame`` of a list or of an empty
    pandas frame plans a parallelize job)."""
    parts = []
    for g, idx in enumerate(indexes):
        blocks = idx.postings_for(
            spark, qrows, "term string, query_id long, w double, df long", local=True
        )
        if blocks is not None:
            pdf = blocks.to_pandas()
            pdf["cursor"] = pdf["term_id"] * len(indexes) + g
            parts.append(pdf[_BLOCK_COLS])
    partials: dict[int, list[tuple[float, int]]] = {}
    if parts:
        allblocks = pd.concat(parts, ignore_index=True)
        for (qid, _), grp in allblocks.groupby(["query_id", "segment"], sort=True):
            qid = int(qid)
            for doc, score in _group_topk(grp, sc, excluded, after.get(qid)):
                partials.setdefault(qid, []).append((-round6(score), doc))
    rows = [
        (qid, rank, doc, -neg)
        for qid in sorted(partials)
        for rank, (neg, doc) in enumerate(sorted(partials[qid])[: sc.k], 1)
    ]
    cols = list(zip(*rows)) or [(), (), (), ()]
    types = [pa.int64(), pa.int32(), pa.int64(), pa.float64()]
    return spark.createDataFrame(
        pa.table({f.name: pa.array(c, t) for f, c, t in zip(_OUT_SCHEMA, cols, types)}),
        _OUT_SCHEMA,
    )


def _spark_topk(
    spark: SparkSession,
    indexes: list[IndexTables],
    qrows: list[tuple],
    sc: _Scoring,
    n_salts: int,
    after: dict[int, tuple[float, int]],
    exclude: DataFrame | None,
) -> DataFrame:
    """The batch scored by Spark: per generation the pruned blocks from
    ``postings_for`` → union (generations only) → ``groupBy(query_id,
    segment).applyInPandas`` over ``_group_topk`` → ``rank_topk``."""
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    parts = []
    for g, idx in enumerate(indexes):
        blocks = idx.postings_for(
            spark, qrows, "term string, query_id long, w double, df long"
        )
        if blocks is not None:
            # one posting list per (term, generation); a single int key
            # keeps the per-group split cheap, and its order (term_id,
            # then generation) is term order within every generation
            cursor = (F.col("term_id") * len(indexes) + g).alias("cursor")
            parts.append(blocks.select(*[cursor if c == "cursor" else c for c in _BLOCK_COLS]))
    allblocks = parts[0]
    for p in parts[1:]:
        allblocks = allblocks.unionByName(p)

    if exclude is not None:
        # tombstones ride the same shuffle as the posting blocks: one
        # marker row (payload NULL, cursor -1) per (query, tombstoned doc),
        # banded by the build-time rule doc_id % n_salts so each lands in
        # exactly the (query, segment) group whose postings could emit it
        qids = sorted({q for _, q, _, _ in qrows})
        qid_df = local_rows(spark, [(q,) for q in qids], "query_id long")
        tomb = (
            exclude.select(F.col("doc_id").cast("long"))
            .crossJoin(F.broadcast(qid_df))
            .select(
                "query_id",
                F.lit(-1).cast("long").alias("cursor"),
                F.pmod(F.col("doc_id"), F.lit(n_salts)).cast("int").alias("segment"),
                F.col("doc_id").alias("first_doc"),
                F.col("doc_id").alias("last_doc"),
                F.lit(0).cast("int").alias("n"),
                F.lit(0).cast("int").alias("max_tf"),
                F.lit(0.0).alias("max_score"),
                F.lit(None).cast("binary").alias("payload"),
                F.lit(0).cast("long").alias("df"),
                F.lit(0.0).alias("w"),
            )
        )
        allblocks = allblocks.unionByName(tomb)
    after_b = spark.sparkContext.broadcast(after)

    def bmw(pdf: pd.DataFrame) -> pd.DataFrame:
        # one (query, doc-band) group: one cursor per (term, generation).
        # Generations have disjoint doc spaces and a doc's band is fixed
        # within its generation, so the band partials are exact
        qid = int(pdf["query_id"].iloc[0])
        excluded: frozenset[int] = frozenset()
        tomb_mask = pdf["payload"].isna()
        if tomb_mask.any():
            excluded = frozenset(int(d) for d in pdf.loc[tomb_mask, "first_doc"])
            pdf = pdf[~tomb_mask]
        hits = _group_topk(pdf, sc, excluded, after_b.value.get(qid))
        return pd.DataFrame(
            {
                "query_id": pd.Series([qid] * len(hits), dtype="int64"),
                "doc_id": pd.Series([d for d, _ in hits], dtype="int64"),
                "score": pd.Series([s for _, s in hits], dtype="float64"),
            }
        )

    # partial top-k per (query, doc band) — n_salts parallel tasks per
    # query — then an exact rank-merge of the small partials
    scored = allblocks.groupBy("query_id", "segment").applyInPandas(
        bmw, "query_id long, doc_id long, score double"
    )
    return rank_topk(scored, sc.k)


def _tf_upper_bound(max_tf: np.ndarray, idf: float, k1: float, b: float) -> np.ndarray:
    """Per-block BM25 upper bound from max_tf alone (dl → 0 limit).

    tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is increasing in tf and
    decreasing in dl, so idf·max_tf·(k1+1)/(max_tf + k1·(1−b)) bounds
    every posting in the block. Looser than the stored exact block-max
    (which bakes in build-time global stats), but valid under ANY
    global stats — which is what multi-generation querying needs.
    """
    t = max_tf.astype(np.float64)
    return idf * (t * (k1 + 1.0)) / (t + k1 * (1.0 - b))
