"""Per-layer metrics of a traced run.

Span counters come from ``spans.py``; the kernel probes time the
engine's per-document and per-block kernels directly, in the driver:

- ``textprep.normalize.tokenize`` over the run's corpus texts (the
  kernel the fused Arrow tf UDF runs per document);
- ``index.codec.encode_postings`` / ``decode_block`` over the blocks of
  the index the run built.

A layer a workload leaves idle reports 0 (README.md lists which).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from keywords4cv_spark.index.codec import decode_block, encode_postings
from keywords4cv_spark.textprep.normalize import tokenize

from spans import Span, Tracer

CODEC_MAX_POSTINGS = 200_000  # bound on the codec probe's work


def tokenize_us_per_doc(corpus_paths: list[str], cfg) -> float:
    texts = []
    for p in corpus_paths:
        t = pq.read_table(p, columns=["text", "lang"]).to_pydict()
        texts += [x for x, lg in zip(t["text"], t["lang"])
                  if cfg.lang_filter is None or lg == cfg.lang_filter]
    t0 = time.perf_counter()
    for x in texts:
        tokenize(x, cfg.min_token_len, cfg.stopwords)
    return (time.perf_counter() - t0) * 1e6 / max(1, len(texts))


def codec_probe(index_dir: str, cfg) -> dict[str, float]:
    """Decode every block of (a bounded prefix of) the index's posting
    runs, then re-encode each run; ns per posting both ways."""
    post = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                      partitioning="hive").to_table(
        columns=["term_id", "segment", "block_id", "first_doc", "n", "payload"]
    ).sort_by([("term_id", "ascending"), ("segment", "ascending"),
               ("block_id", "ascending")]).to_pydict()
    stats = pq.read_table(os.path.join(index_dir, "stats")).to_pylist()[0]
    dfs = dict(zip(*pq.read_table(os.path.join(index_dir, "dictionary"),
                                  columns=["term_id", "df"]).to_pydict().values()))
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]

    runs: dict[tuple[int, int], list] = {}
    decode_ns, postings, payload_bytes = 0, 0, 0
    for tid, seg, first, n, payload in zip(
        post["term_id"], post["segment"], post["first_doc"], post["n"], post["payload"]
    ):
        if postings >= CODEC_MAX_POSTINGS:
            break
        t0 = time.perf_counter_ns()
        block = decode_block(payload, n, first)
        decode_ns += time.perf_counter_ns() - t0
        runs.setdefault((tid, seg), []).append(block)
        postings += n
        payload_bytes += len(payload)

    encode_ns = 0
    for (tid, _), blocks in runs.items():
        doc_ids = np.concatenate([b[0] for b in blocks])
        tfs = np.concatenate([b[1] for b in blocks])
        dls = np.concatenate([b[2] for b in blocks])
        df = dfs[tid]
        idf = float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
        t0 = time.perf_counter_ns()
        encode_postings(doc_ids, tfs, dls, idf, cfg.k1, cfg.b, avgdl, cfg.block_size)
        encode_ns += time.perf_counter_ns() - t0
    p = max(1, postings)
    return {
        "codec.encode_ns_per_posting": encode_ns / p,
        "codec.decode_ns_per_posting": decode_ns / p,
        "codec.payload_bytes_per_posting": payload_bytes / p,
    }


def _sum(spans: list[Span], attr: str) -> float:
    return float(sum(getattr(s, attr) for s in spans))


def _per(spans: list[Span], attr: str, scale: float = 1.0) -> float:
    return _sum(spans, attr) * scale / len(spans) if spans else 0.0


def _data_files(path: str):
    """Data files of an index tree (no .crc checksums or _SUCCESS markers)."""
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                yield os.path.join(root, f)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


def span_metrics(tr: Tracer, info: dict) -> dict[str, float]:
    builds = tr.named("build.build_index")
    # timed queries only: warm-up queries run with op id -1
    probes = [s for s in tr.named("probe.lookup_terms") if s.op_id >= 0]
    wands = [s for s in tr.named("wand.bm25_wand") if s.op_id >= 0]
    multis = [s for s in tr.named("multi.bm25_wand_multi") if s.op_id >= 0]
    appends = tr.named("manifest.append_generation")
    supers = tr.named("upsert.superseded_docs")
    compacts = tr.named("compact.compact_generations")
    results = sum(s.extra.get("results", 0) for s in wands)
    top = [s for s in tr.spans if s.parent is None]
    return {
        "build.jobs": _sum(builds, "jobs"),
        "build.stages": _sum(builds, "stages"),
        "build.tasks": _sum(builds, "tasks"),
        "build.executor_run_s": _sum(builds, "executor_run_s"),
        "build.executor_cpu_s": _sum(builds, "executor_cpu_s"),
        "build.shuffle_write_bytes": _sum(builds, "shuffle_write_bytes"),
        "build.spill_bytes": _sum(builds, "spill_bytes"),
        "build.driver_gap_s": _sum(builds, "driver_gap_s"),
        "build.files_written": float(sum(1 for _ in _data_files(info["build_dir"]))),
        "probe.ms": _per(probes, "wall_s", 1e3),
        "probe.miss_ratio": (
            sum(1 for s in probes if s.jobs) / len(probes) if probes else 0.0
        ),
        "wand.jobs_per_query": _per(wands, "jobs"),
        "wand.tasks_per_query": _per(wands, "tasks"),
        "wand.executor_run_ms_per_query": _per(wands, "executor_run_s", 1e3),
        "wand.driver_gap_ms_per_query": _per(wands, "driver_gap_s", 1e3),
        "wand.input_rows_per_result": _sum(wands, "input_rows") / results if results else 0.0,
        "ingest.docs_per_s": info.get("ingest_docs_per_s", 0.0),
        "manifest.append_ms": _per(appends, "wall_s", 1e3),
        "upsert.superseded_ms": _per(supers, "wall_s", 1e3),
        "upsert.tombstones": float(sum(s.extra.get("tombstones", 0) for s in supers)),
        "multi.jobs_per_query": _per(multis, "jobs"),
        "multi.executor_run_ms_per_query": _per(multis, "executor_run_s", 1e3),
        "multi.driver_gap_ms_per_query": _per(multis, "driver_gap_s", 1e3),
        "compact.wall_s": info.get("compact_s", 0.0),
        "compact.jobs": _sum(compacts, "jobs"),
        "compact.executor_run_s": _sum(compacts, "executor_run_s"),
        "compact.bytes_rewritten": (
            float(dir_bytes(info["compact_dir"])) if "compact_dir" in info else 0.0
        ),
        "cache.persistent_rdds_leaked": float(sum(s.rdds_leaked for s in top)),
    }
