"""The benchmark's workloads, driven as one client from one process.

Each workload takes a ``Run`` (session, tracer, sizes, paths) and
returns its end-to-end measurements. Every engine call goes through
``run.tracer.span`` so the traced run can attribute Spark jobs to it.

Sizes keep a whole run, set-up included, near one minute on a 4-core
host: a cold ``build_index`` costs ~30 s of fixed per-job overhead
before its per-document work (README.md).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from keywords4cv_spark.config import EngineConfig
from keywords4cv_spark.query.fixtures import TOP_K

from inputs import Query, base_corpus, query_pool, recrawl_batch, repeat_log, repeated_share
from layers import dir_bytes
from oracle import Corpus
from spans import Tracer

SERVE_DOCS = 6_000
SERVE_WARMUP = 2         # untimed queries between the build and the log
SERVE_QUERIES = 12       # log prefix timed for query_p50_ms, even past --seconds
BASE_SEED = 0            # the recrawl base corpus does not vary with --seed
RECRAWL_BASE = 5_000
RECRAWL_SHARE = 0.10     # recrawl generation size, share of the base
RECAPTURE_SHARE = 0.5    # share of the generation re-capturing base urls
RECRAWL_WARMUP = 4       # untimed multi-generation queries after the ingest
RECRAWL_QUERIES = 7      # queries timed for query_p50_ms, even past --seconds
BASE_READY = "_BASE_READY"   # marks a complete cached recrawl base
FAILED_MS = 1e9          # latency recorded for a query that raised (finite: JSON)


@dataclass
class Run:
    spark: object
    tracer: Tracer
    cfg: EngineConfig
    seed: int
    seconds: float
    cache_dir: str
    index_dir: str
    engine_key: str
    attempted: int = 0
    failed: int = 0
    planned: int = 0     # operations a complete run attempts (crash accounting)
    notes: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def _rows(df) -> list[tuple[int, int, float]]:
    """(rank, doc_id, score) rows of a single-query result frame."""
    return sorted(
        (int(r["rank"]), int(r["doc_id"]), float(r["score"])) for r in df.collect()
    )


def timed_build(run: Run, corpus_path: str, out: str, url_col: str | None = None):
    """One ``build_index`` call, timed; records the build metrics."""
    from keywords4cv_spark.index.build import build_index

    docs = run.spark.read.parquet(corpus_path)
    t0 = time.perf_counter()
    with run.tracer.span("build.build_index"):
        idx = build_index(run.spark, docs, out, run.cfg, resume=False, url_col=url_col)
    build_s = time.perf_counter() - t0
    run.op(True)
    texts = pq.read_table(corpus_path, columns=["text"])["text"].to_pylist()
    run.info.update(
        build_s=build_s,
        build_docs=len(texts),
        build_dir=out,
        index_bytes_per_text_byte=dir_bytes(out) / sum(len(t.encode()) for t in texts),
    )
    return idx


def recrawl_base(cache_dir: str, engine_key: str) -> tuple[str, str]:
    """(corpus path, family dir) of the recrawl workload's base: an index
    family whose manifest holds one generation, ``gen0``.

    The base is seed-independent and built once per engine source tree
    (``engine_key``), by ``build_recrawl_base`` in a process of its own,
    so every measured run starts from a cold JVM and pays only for its
    own recrawl batch."""
    return (
        base_corpus(cache_dir, BASE_SEED, RECRAWL_BASE),
        os.path.join(cache_dir, f"recrawl-base-{engine_key}"),
    )


def build_recrawl_base(spark, cfg: EngineConfig, cache_dir: str, engine_key: str) -> None:
    from keywords4cv_spark.index.build import build_index
    from keywords4cv_spark.index.manifest import append_generation

    path, family = recrawl_base(cache_dir, engine_key)
    shutil.rmtree(family, ignore_errors=True)
    gen0 = os.path.join(family, "gen0")
    build_index(spark, spark.read.parquet(path), gen0, cfg, resume=False, url_col="url")
    append_generation(spark, family, gen0)
    open(os.path.join(family, BASE_READY), "w").close()


def _timed_loop(
    run: Run, queries: list[Query], min_queries: int, one
) -> tuple[list[float], dict]:
    """Closed loop, one client: the next query goes out when the last
    one returned, until ``run.seconds`` passed and ``min_queries`` ran.
    Returns latencies (a failed query counts as FAILED_MS, over any
    latency limit) and op → (query, rows) for the queries that answered.
    Callers take query_p50_ms over the first ``min_queries`` latencies
    only, so the queries it covers do not change with engine speed."""
    lat, answered = [], {}
    t_end = time.perf_counter() + run.seconds
    for op, q in enumerate(queries):
        if op >= min_queries and time.perf_counter() >= t_end:
            break
        t0 = time.perf_counter()
        try:
            rows = one(q, op)
        except Exception as ex:  # a failed query is counted, not fatal
            run.op(False, f"query op {op} raised {type(ex).__name__}: {ex}"[:300])
            lat.append(FAILED_MS)
            continue
        lat.append((time.perf_counter() - t0) * 1e3)
        answered[op] = (q, rows)
    return lat, answered


def serve(run: Run) -> dict:
    """Cold build, warm-up, then a timed closed loop of single BM25
    queries over a log with repeats."""
    from keywords4cv_spark.query.wand import bm25_wand

    spark, cfg, tr = run.spark, run.cfg, run.tracer
    run.planned = 1 + SERVE_QUERIES
    path = base_corpus(run.cache_dir, run.seed, SERVE_DOCS)
    idx = timed_build(run, path, os.path.join(run.index_dir, "serve"))
    run.info["setup_s"] = run.info["build_s"]

    def one(q: Query, op: int):
        with tr.span("query", op):
            # the dictionary probe, called on its own so the traced run
            # can time it; bm25_wand then resolves the terms from its cache
            with tr.span("probe.lookup_terms", op):
                idx.lookup_terms(list(q.terms))
            with tr.span("wand.bm25_wand", op) as sp:
                rows = _rows(bm25_wand(spark, idx, cfg, TOP_K, [(q.qid, t) for t in q.terms]))
                sp.extra["results"] = len(rows)
        return rows

    # warm-up and log queries come from one pool, so they share no term
    pool = query_pool(run.seed, 0, SERVE_WARMUP + 1_000)
    t0 = time.perf_counter()
    for q in pool[:SERVE_WARMUP]:
        one(q, -1)
    warmup_s = time.perf_counter() - t0

    log = repeat_log(pool[SERVE_WARMUP:], 1_000)
    lat, answered = _timed_loop(run, log, SERVE_QUERIES, one)
    sent = log[: len(lat)]
    run.planned = 1 + len(sent)

    corpus = Corpus([path], cfg)
    want = {q.qid: corpus.topk(q.terms, TOP_K) for q in sent}
    for op, (q, rows) in sorted(answered.items()):
        run.op(rows == want[q.qid], f"serve op {op} query {q.qid} differs from brute force")
    run.info.update(
        queries=len(sent),
        latencies_ms=[round(x, 1) for x in lat],
        distinct_queries=len(want),
        repeated_share=repeated_share(sent),
        p50_queries=SERVE_QUERIES,
        warmup_s=warmup_s,
        corpus_paths=[path],
    )
    return {"latencies_ms": lat[:SERVE_QUERIES]}


def expected_tombstones(paths: list[str], lang: str | None) -> set[int]:
    """The ``index/upsert.py`` contract, recomputed from the inputs: of
    the indexed docs sharing a url, all but the newest (latest
    generation, then highest doc id) are tombstoned."""
    best: dict[str, tuple[int, int]] = {}
    rows = []
    for gen, p in enumerate(paths):
        t = pq.read_table(p, columns=["doc_id", "url", "lang"]).to_pydict()
        for d, u, lg in zip(t["doc_id"], t["url"], t["lang"]):
            if lang is None or lg == lang:
                rows.append((gen, d, u))
                best[u] = max(best.get(u, (-1, -1)), (gen, d))
    return {d for gen, d, u in rows if best[u] != (gen, d)}


def recrawl(run: Run) -> dict:
    """Over a cached base index: one cold recrawl ingest cycle, then a
    burst of distinct multi-generation queries with tombstones. The
    traced run ends with a purging compaction (README.md: why only
    there)."""
    from keywords4cv_spark.index.manifest import append_generation, load_generations
    from keywords4cv_spark.index.upsert import superseded_docs
    from keywords4cv_spark.query.wand import bm25_wand_multi

    spark, cfg, tr = run.spark, run.cfg, run.tracer
    run.planned = 2 + RECRAWL_QUERIES   # ingest, tombstone check, queries
    family = os.path.join(run.index_dir, "family")
    base_path, base_family = recrawl_base(run.cache_dir, run.engine_key)
    t0 = time.perf_counter()
    # a fresh manifest whose one generation is the cached gen0
    shutil.copytree(os.path.join(base_family, "_manifest"),
                    os.path.join(family, "_manifest"))
    run.info["setup_s"] = time.perf_counter() - t0

    n_gen = int(RECRAWL_BASE * RECRAWL_SHARE)
    gen_path = recrawl_batch(run.cache_dir, run.seed, base_path, n_gen, RECAPTURE_SHARE)
    gen_dir = os.path.join(family, "gen1")
    t0 = time.perf_counter()
    with tr.span("ingest"):
        timed_build(run, gen_path, gen_dir, url_col="url")
        with tr.span("manifest.append_generation"):
            append_generation(spark, family, gen_dir)
        with tr.span("manifest.load_generations"):
            gens = load_generations(spark, family)
        with tr.span("upsert.superseded_docs") as sp:
            tomb = superseded_docs(gens)
            tomb_ids = {int(r["doc_id"]) for r in tomb.collect()}
            sp.extra["tombstones"] = len(tomb_ids)
    ingest_s = time.perf_counter() - t0
    paths = [base_path, gen_path]
    expected = expected_tombstones(paths, cfg.lang_filter)
    run.op(tomb_ids == expected, f"tombstones {len(tomb_ids)} != expected {len(expected)}")

    def one(q: Query, op: int):
        with tr.span("multi.bm25_wand_multi", op) as sp:
            rows = _rows(bm25_wand_multi(
                spark, gens, cfg, TOP_K, [(q.qid, t) for t in q.terms], exclude=tomb
            ))
            sp.extra["results"] = len(rows)
        return rows

    pool = query_pool(run.seed, 2, RECRAWL_WARMUP + 1_000)
    t0 = time.perf_counter()
    for q in pool[:RECRAWL_WARMUP]:
        one(q, -1)
    run.info["warmup_s"] = time.perf_counter() - t0
    queries = pool[RECRAWL_WARMUP:]
    lat, answered = _timed_loop(run, queries, RECRAWL_QUERIES, one)
    sent = queries[: len(lat)]
    run.planned = 2 + len(sent)

    # statistics over the union, tombstoned docs dropped before ranking
    union = Corpus(paths, cfg)
    excl = frozenset(expected)
    for op, (q, rows) in sorted(answered.items()):
        run.op(rows == union.topk(q.terms, TOP_K, excl),
               f"multi-generation query {q.qid} differs from brute force")

    if tr.enabled:
        _compact(run, gens, tomb, union.without(expected), sent)
    run.info.update(
        queries=len(sent),
        latencies_ms=[round(x, 1) for x in lat],
        p50_queries=RECRAWL_QUERIES,
        recrawl_docs=n_gen,
        tombstones=len(tomb_ids),
        ingest_s=ingest_s,
        ingest_docs_per_s=n_gen / ingest_s,
        corpus_paths=[gen_path],
    )
    return {"latencies_ms": lat[:RECRAWL_QUERIES]}


def _compact(run: Run, gens, tomb, live: Corpus, queries: list[Query]) -> None:
    """Purging compaction, then the compacted index must equal brute
    force over the live corpus."""
    from keywords4cv_spark.index.compact import compact_generations
    from keywords4cv_spark.query.wand import bm25_wand

    spark, cfg, tr = run.spark, run.cfg, run.tracer
    out = os.path.join(run.index_dir, "compacted")
    run.planned += 1 + len(queries)
    t0 = time.perf_counter()
    with tr.span("compact.compact_generations"):
        comp = compact_generations(spark, gens, out, cfg, superseded=tomb)
    run.info.update(compact_s=time.perf_counter() - t0, compact_dir=out)
    run.op(True)
    got: dict[int, list] = {}
    pairs = [(q.qid, t) for q in queries for t in q.terms]
    with tr.span("check.compacted"):
        for r in bm25_wand(spark, comp, cfg, TOP_K, pairs).collect():
            got.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            )
    for q in queries:
        run.op(sorted(got.get(q.qid, [])) == live.topk(q.terms, TOP_K),
               f"compacted query {q.qid} differs from brute force")


WORKLOADS = {"serve": serve, "recrawl": recrawl}
