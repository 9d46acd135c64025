"""Index build + BM25 rank-identity + checkpoint/resume (SURVEY.md §5.2 c,e)."""

from __future__ import annotations

import itertools
import math
import os
import shutil
from collections import Counter
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from keywords4cv_spark.config import EngineConfig
from keywords4cv_spark.index.build import build_index, load_index
from keywords4cv_spark.query.bm25 import bm25_brute_force
from keywords4cv_spark.query.fixtures import QUERY_SET, query_term_pairs, query_terms
from keywords4cv_spark.query.wand import bm25_wand
from keywords4cv_spark.textprep.normalize import tokenize

CFG = EngineConfig(n_term_buckets=2, shuffle_partitions=8)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def index(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    return build_index(spark, docs, d, CFG, url_col="source")


def python_bm25_oracle(rows, k1=1.2, b=0.75, exclude=frozenset()):
    """Brute-force BM25 in pure Python over (doc_id, text) rows.

    ``exclude``: tombstoned doc_ids — never ranked, but still counted
    in n/avgdl/df (Lucene deleted-docs semantics, index/upsert.py)."""
    toks = {d: tokenize(t) for d, t in rows}
    dls = {d: len(ts) for d, ts in toks.items()}
    n = len(toks)
    avgdl = sum(dls.values()) / n
    df: dict[str, int] = {}
    tf: dict[tuple[int, str], int] = {}
    for d, ts in toks.items():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
        for t in ts:
            tf[(d, t)] = tf.get((d, t), 0) + 1
    out = {}
    for qid, q in QUERY_SET:
        scores: dict[int, float] = {}
        for term in query_terms(q):
            if term not in df:
                continue
            idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
            for d in toks:
                f_ = tf.get((d, term))
                if not f_:
                    continue
                s = idf * (f_ * (k1 + 1)) / (f_ + k1 * (1 - b + b * dls[d] / avgdl))
                scores[d] = scores.get(d, 0.0) + s
        ranked = sorted(
            ((round(s, 6), -d) for d, s in scores.items() if d not in exclude),
            reverse=True,
        )[:10]
        out[qid] = [(i + 1, -nd, s) for i, (s, nd) in enumerate(ranked)]
    return out


def _collect(df):
    return {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in df.collect()
    }


# the largest driver gate EngineConfig accepts: every test batch fits
_GATE_OPEN = 2**31 - 2


def _gate_sides(cfg):
    """cfg with the driver gate forced open and shut: for WAND, the
    driver path and the Spark applyInPandas path; for ``superseded_docs``,
    a tombstone set held in the driver and the lazy derivation."""
    return {
        "driver": replace(cfg, wand_driver_max_postings=_GATE_OPEN),
        "spark": replace(cfg, wand_driver_max_postings=0),
    }


def _both_sides(cfg, run):
    """``run(cfg)`` on each side of the WAND driver gate. The two answers
    must be bit-identical: same (query_id, rank, doc_id) and the same
    double ``score`` (float ==). Returns the _collect dict."""
    got = {side: _collect(run(c)) for side, c in _gate_sides(cfg).items()}
    assert got["driver"] == got["spark"]
    return got["driver"]


_JOB_GROUPS = itertools.count()


def _jobs(spark, run):
    """(``run()``, the number of Spark jobs it submitted), counted by
    job group as bench_extra.py does."""
    sc = spark.sparkContext
    grp = f"test-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(grp, grp)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(grp))


def _is_local(df):
    """True when ``df``'s optimized plan is a driver-held LocalRelation."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _tombstone_sides(gens):
    """``superseded_docs(gens)`` on each side of its driver gate: a
    local relation (gate open) and the lazy derivation (gate shut). Both
    sides must hold the same set. Returns ({side: relation}, the set)."""
    from keywords4cv_spark.index.upsert import superseded_docs

    sides = {side: superseded_docs(gens, c) for side, c in _gate_sides(CFG).items()}
    assert _is_local(sides["driver"]) and not _is_local(sides["spark"])
    sets = {side: {r.doc_id for r in t.collect()} for side, t in sides.items()}
    assert sets["driver"] == sets["spark"]
    return sides, sets["driver"]


def _four_sides(tsides, run):
    """``run(cfg, tombstones)`` for every (tombstone side × WAND side)
    pair; the four answers must be bit-identical. Returns the _collect
    dict."""
    got = {ts: _both_sides(CFG, lambda c: run(c, t)) for ts, t in tsides.items()}
    assert got["driver"] == got["spark"]
    return got["driver"]


@pytest.fixture(scope="module")
def brute(spark, docs):
    return _collect(bm25_brute_force(spark, docs, CFG))


def test_brute_force_matches_python_oracle(spark, docs):
    rows = [(r.doc_id, r.text) for r in docs.filter(F.col("lang") == "en").collect()]
    oracle = python_bm25_oracle(rows)
    got = _collect(bm25_brute_force(spark, docs, CFG))
    want = {
        (qid, rank): (doc, pytest.approx(score, abs=1e-6))
        for qid, hits in oracle.items()
        for rank, doc, score in hits
    }
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        assert got[key][1] == want[key][1], key


def test_index_tables_sane(index):
    dict_rows = index.dictionary.count()
    assert dict_rows > 0
    # term_ids dense 1..V and unique
    agg = index.dictionary.agg(
        F.min("term_id"), F.max("term_id"), F.countDistinct("term_id")
    ).collect()[0]
    assert agg[0] == 1 and agg[1] == dict_rows and agg[2] == dict_rows
    # postings cover exactly cf occurrences: sum(n) per term == df
    per_term = index.postings.groupBy("term_id").agg(F.sum("n").alias("n"))
    joined = per_term.join(index.dictionary, "term_id").filter(
        F.col("n") != F.col("df")
    )
    assert joined.count() == 0
    # lineage complete for all buckets
    assert index.lineage.filter(F.col("status") == "complete").count() == CFG.n_term_buckets


def test_wand_rank_identical_to_brute_force(spark, index, brute):
    wand = _both_sides(CFG, lambda c: bm25_wand(spark, index, c))
    assert set(brute) == set(wand)
    for key in brute:
        assert brute[key][0] == wand[key][0], (key, brute[key], wand[key])
        assert abs(brute[key][1] - wand[key][1]) < 1e-9, key


_GATES = [
    ("wand_taat_max_postings", 0),  # the document-at-a-time heap loop
    ("wand_taat_max_postings", _GATE_OPEN),  # vectorized group scorers
    ("wand_driver_max_postings", 0),  # Spark applyInPandas plan
    ("wand_driver_max_postings", _GATE_OPEN),  # in-process driver kernel
]


@pytest.mark.parametrize(
    "gate,value", _GATES, ids=[f"{g}={'0' if v == 0 else 'open'}" for g, v in _GATES]
)
def test_wand_size_gates_rank_identical(spark, index, brute, gate, value):
    """Both sides of both WAND size gates, forced through EngineConfig,
    stay rank-identical to brute force."""
    got = _collect(bm25_wand(spark, index, replace(CFG, **{gate: value})))
    assert set(brute) == set(got)
    for key in brute:
        assert brute[key][0] == got[key][0], (key, brute[key], got[key])
        assert abs(brute[key][1] - got[key][1]) < 1e-9, key


def test_wand_weighted_terms_bit_identical(spark, index):
    """Weighted terms (the expansion shape) score bit-identically on both
    sides of the driver gate, including under the DAAT loop."""
    triples = [
        (q, t, 0.25 + 0.5 * (i % 3)) for i, (q, t) in enumerate(query_term_pairs())
    ]
    for taat in (0, _GATE_OPEN):
        cfg = replace(CFG, wand_taat_max_postings=taat)
        got = _both_sides(cfg, lambda c: bm25_wand(spark, index, c, queries=triples))
        assert got


def test_wand_bad_input_is_empty_on_both_sides(spark, index):
    """All-unknown terms, an empty batch and a search-after cursor past
    the last hit return an empty frame of the result schema on both
    sides of the driver gate, without raising."""
    want = [("query_id", "bigint"), ("rank", "int"), ("doc_id", "bigint"),
            ("score", "double")]
    past = {qid: (0.0, 0) for qid, _ in QUERY_SET}
    for cfg in _gate_sides(CFG).values():
        for kw in (
            {"queries": [(0, "zzqxnope"), (1, "qqzzxnope")]},
            {"queries": []},
            {"after": past},
        ):
            df = bm25_wand(spark, index, cfg, **kw)
            assert df.dtypes == want, kw
            assert df.collect() == [], kw


def test_round6_matches_spark_round(spark):
    """round6 is Spark's round(double, 6): HALF_UP on the shortest
    decimal string, also for half-boundary literals whose binary value
    sits just below the half (0.8101115 → 0.810112)."""
    from keywords4cv_spark.query.bm25 import round6

    rng = np.random.default_rng(11)
    xs = [0.8101115, 2.5e-06, 1.0000005, 0.0000015]
    xs += [float(f"{int(m)}.{int(f):06d}5") for m, f in zip(
        rng.integers(0, 20, 2000), rng.integers(0, 10**6, 2000))]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    got = {r.i: r.r for r in df.select("i", F.round("x", 6).alias("r")).collect()}
    assert round6(0.8101115) == 0.810112
    bad = [(x, got[i], round6(x)) for i, x in enumerate(xs) if got[i] != round6(x)]
    assert not bad, bad[:5]


def test_wand_many_random_queries(spark, docs, index):
    """Randomized single+multi term queries: WAND == brute force on all."""
    rng = np.random.default_rng(7)
    vocab = [r.term for r in index.dictionary.select("term").collect()]
    queries = []
    for qid in range(30):
        n_terms = int(rng.integers(1, 5))
        terms = rng.choice(vocab, size=n_terms, replace=False)
        queries.append((qid, " ".join(terms)))
    pairs = [(qid, t) for qid, q in queries for t in dict.fromkeys(q.split())]
    brute = _collect(bm25_brute_force(spark, docs, CFG, queries=pairs))
    wand = _both_sides(CFG, lambda c: bm25_wand(spark, index, c, queries=pairs))
    assert brute.keys() == wand.keys()
    for key in brute:
        assert brute[key][0] == wand[key][0], (key, brute[key], wand[key])


def test_salted_index_rank_identical(spark, docs, tmp_path):
    """Doc-band segmentation (SURVEY.md §4.2.1 / VERDICT r1 #6): head
    terms of the Zipf corpus must span >1 segment — so a query touching
    them fans out to >1 (query, band) task — and the rank-merged WAND
    result must stay rank-identical to brute force."""
    cfg = EngineConfig(
        n_term_buckets=2, shuffle_partitions=8, n_salts=4
    )
    idx = build_index(spark, docs, str(tmp_path / "salted"), cfg, url_col="source")
    # the Zipf head term "the" appears in most docs → all 4 doc bands
    head_id = [
        r["term_id"] for r in idx.dictionary.filter(F.col("term") == "the").collect()
    ][0]
    head_segments = (
        idx.postings.filter(F.col("term_id") == head_id)
        .select("segment").distinct().count()
    )
    assert head_segments == cfg.n_salts, "head term does not span all doc bands"
    brute = _collect(bm25_brute_force(spark, docs, cfg))
    wand = _both_sides(cfg, lambda c: bm25_wand(spark, idx, c))
    assert set(brute) == set(wand)
    for key in brute:
        assert brute[key][0] == wand[key][0], (key, brute[key], wand[key])


def test_resume_skips_completed_buckets(spark, docs, tmp_path):
    """Kill-and-resume: a crash mid-build leaves bucket 0 committed
    (postings + lineage, both _SUCCESS-marked) and bucket 1 gone; resume
    must rebuild ONLY bucket 1 — bucket 0's lineage row (and its
    finished_ts) must survive untouched."""
    d1, d2 = str(tmp_path / "full"), str(tmp_path / "resumed")
    full = build_index(spark, docs, d1, CFG, url_col="source")
    build_index(spark, docs, d2, CFG, url_col="source")
    ts_before = {
        int(r["bucket"]): float(r["finished_ts"])
        for r in load_index(spark, d2).lineage.collect()
    }
    shutil.rmtree(f"{d2}/postings/bucket=1")  # bucket 1 never committed
    shutil.rmtree(f"{d2}/_lineage/bucket=1")
    resumed = build_index(spark, docs, d2, CFG, resume=True, url_col="source")
    lineage = {
        int(r["bucket"]): float(r["finished_ts"]) for r in resumed.lineage.collect()
    }
    assert sorted(lineage) == list(range(CFG.n_term_buckets))
    assert lineage[0] == ts_before[0], "bucket 0 was rebuilt despite a valid hash"
    assert lineage[1] != ts_before[1]
    a = full.postings.select("term_id", "segment", "block_id", "first_doc", "n", "max_tf")
    b = resumed.postings.select("term_id", "segment", "block_id", "first_doc", "n", "max_tf")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resume_rebuilds_on_corpus_change(spark, docs, tmp_path):
    """Verified resume (reference verify-then-load checkpoint gate): if
    the source corpus changed since the checkpoint, committed buckets'
    input_hash no longer matches and the build must rebuild rather than
    silently mix generations — including dictionary/docmeta/stats."""
    d = str(tmp_path / "changing")
    build_index(spark, docs, d, CFG, url_col="source")
    changed = docs.filter(F.col("doc_id") % 7 != 3)  # drop some docs
    resumed = build_index(spark, changed, d, CFG, resume=True, url_col="source")
    fresh_dir = str(tmp_path / "fresh")
    fresh = build_index(spark, changed, fresh_dir, CFG, url_col="source")
    cols = ["term_id", "segment", "block_id", "first_doc", "n", "max_tf"]
    a, b = resumed.postings.select(cols), fresh.postings.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    da = resumed.dictionary.select("term", "term_id", "df", "cf")
    db = fresh.dictionary.select("term", "term_id", "df", "cf")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0
    assert resumed.stats_row()["n_docs"] == fresh.stats_row()["n_docs"]


_POSTINGS_COLS = [
    "term_id", "segment", "block_id", "first_doc", "last_doc",
    "n", "max_tf", "max_score", "payload",
]
_LINEAGE_COLS = ["bucket", "rows", "n_blocks", "n_terms", "payload_bytes"]


def _rows(df, cols=None):
    """Multiset of a table's rows over ``cols`` (default: all columns)."""
    return Counter(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in df.select(*(cols or df.columns)).collect()
    )


def _assert_same_index(got, want):
    """Postings (all 9 columns), dictionary, docmeta, stats (every field)
    and lineage (counts and input_hash) of two indexes are equal."""
    for name, cols in (
        ("postings", _POSTINGS_COLS),
        ("dictionary", ["term", "term_id", "df", "cf"]),
        ("docmeta", None),
        ("stats", None),
        ("lineage", _LINEAGE_COLS + ["input_hash"]),
    ):
        g, w = getattr(got, name), getattr(want, name)
        assert cols or g.columns == w.columns, (name, g.columns, w.columns)
        assert _rows(g, cols) == _rows(w, cols), name


def _tokenless_doc(docs):
    """docs plus one en doc whose text keeps no token (dl = 0)."""
    extra = docs.sparkSession.createDataFrame(
        [(10_000, "a", "en", "srcX", 1)], docs.schema
    )
    return docs.unionByName(extra)


# the index every rebuild case starts from: 4 term buckets, 4 doc bands
_WIDE = EngineConfig(n_term_buckets=4, n_salts=4, shuffle_partitions=8)

_RESUME_CASES = {
    # every field of the resume fingerprint's config half changes at once
    "config": (lambda d: d, EngineConfig(
        n_term_buckets=2, n_salts=2, shuffle_partitions=8, store_positions=True,
        k1=2.0,
    ), True),
    "tokenless_doc": (_tokenless_doc, None, True),
    "url_change": (
        lambda d: d.withColumn("source", F.concat("source", F.lit("/v2"))), None, True,
    ),
    # a non-resumed rebuild with fewer buckets over a wider index
    "fewer_buckets_no_resume": (lambda d: d, CFG, False),
}


@pytest.fixture(scope="module")
def wide_index_dir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wide") / "idx")
    build_index(spark, docs, d, _WIDE, url_col="source")
    return d


@pytest.mark.parametrize("case", list(_RESUME_CASES))
def test_rebuild_over_index_equals_fresh_build(spark, docs, wide_index_dir, tmp_path, case):
    """A build into a dir holding an older index equals a fresh build,
    whatever changed: the config (buckets, bands, positions, k1), a
    tokenless doc (n_docs, avgdl), every url (docmeta), or — without
    resume — fewer buckets (no stale bucket=N dirs survive)."""
    change, cfg, resume = _RESUME_CASES[case]
    cfg = cfg or _WIDE
    d = str(tmp_path / "over")
    shutil.copytree(wide_index_dir, d)
    changed = change(docs)
    got = build_index(spark, changed, d, cfg, resume=resume, url_col="source")
    want = build_index(spark, changed, str(tmp_path / "fresh"), cfg, url_col="source")
    _assert_same_index(got, want)
    for table in ("postings", "_lineage"):
        assert sorted(os.listdir(f"{d}/{table}")) == sorted(
            os.listdir(f"{tmp_path}/fresh/{table}")
        ), table


def test_resume_after_half_written_bucket(spark, docs, index, tmp_path):
    """A bucket dir left half-written by a killed process (part files and
    a _temporary dir, no _SUCCESS; its old lineage row still committed)
    is rewritten on resume; the other bucket is kept (same finished_ts)
    and the result equals a fresh build."""
    d = str(tmp_path / "killed")
    build_index(spark, docs, d, CFG, url_col="source")
    ts_before = {
        int(r["bucket"]): float(r["finished_ts"])
        for r in load_index(spark, d).lineage.collect()
    }
    os.remove(f"{d}/postings/bucket=1/_SUCCESS")
    os.makedirs(f"{d}/postings/bucket=1/_temporary/0")
    with open(f"{d}/postings/bucket=1/part-99999-killed.snappy.parquet", "wb") as f:
        f.write(b"PAR1 truncated by a kill")
    resumed = build_index(spark, docs, d, CFG, resume=True, url_col="source")
    ts_after = {
        int(r["bucket"]): float(r["finished_ts"]) for r in resumed.lineage.collect()
    }
    assert ts_after[0] == ts_before[0], "the committed bucket was rewritten"
    assert ts_after[1] != ts_before[1]
    _assert_same_index(resumed, index)


def test_empty_corpus_raises_cleanly(spark, docs, tmp_path):
    with pytest.raises(ValueError, match="corpus is empty"):
        build_index(
            spark, docs.filter(F.col("doc_id") < 0), str(tmp_path / "e"), CFG,
            url_col="source",
        )


_ENCODE_CASES = {
    # (store_positions, spark.sql.execution.arrow.maxRecordsPerBatch);
    # 7-row batches make (term, segment) runs cross batch boundaries
    "plain": (False, None),
    "plain-batch7": (False, 7),
    "positional": (True, None),
    "positional-batch7": (True, 7),
}


def _encoded_runs(tf, n_docs, avgdl, cfg):
    """POSTINGS_SCHEMA tuples of ``encode_postings`` over each (term_id,
    segment) run of the tf rows ``tf`` (pandas: term_id, segment, df,
    doc_id, tf, dl[, positions]), sorted."""
    from keywords4cv_spark.index.codec import encode_postings

    out = []
    for (tid, seg), run in tf.groupby(["term_id", "segment"]):
        df_val = int(run["df"].iloc[0])
        idf = float(np.log(1.0 + (n_docs - df_val + 0.5) / (df_val + 0.5)))
        positions = list(run["positions"]) if "positions" in run.columns else None
        for blk in encode_postings(
            run["doc_id"].to_numpy(), run["tf"].to_numpy(), run["dl"].to_numpy(),
            idf, cfg.k1, cfg.b, avgdl, cfg.block_size, positions=positions,
        ):
            out.append((int(tid), int(seg), *blk.values()))
    return sorted(out)


@pytest.mark.parametrize("case", list(_ENCODE_CASES))
def test_block_encoder_equals_encode_postings_per_run(spark, docs, tmp_path, case):
    """The build's per-partition encoder (build.block_encoder under
    mapInArrow) writes, for every (term, segment) run, exactly the blocks
    encode_postings makes of that run's tf rows, whatever the Arrow batch
    size; and every postings file is in (term_id, segment, block_id)
    order."""
    import pyarrow.parquet as pq

    from keywords4cv_spark.index.build import term_frequencies_fused

    positional, batch = _ENCODE_CASES[case]
    cfg = replace(CFG, store_positions=positional)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if batch:
        spark.conf.set(key, str(batch))
    try:
        idx = build_index(spark, docs, str(tmp_path / "enc"), cfg, url_col="source")
    finally:
        spark.conf.set(key, old)
    srow = idx.stats_row()
    tf = (
        term_frequencies_fused(docs, cfg, with_positions=positional)
        .join(idx.dictionary.select("term", "term_id", "df"), "term")
        .withColumn("segment", F.col("doc_id") % cfg.n_salts)
        .toPandas()
    )
    want = _encoded_runs(tf, int(srow["n_docs"]), float(srow["avgdl"]), cfg)
    got = sorted(tuple(r) for r in idx.postings.select(*_POSTINGS_COLS).collect())
    assert got == want and len({r[:2] for r in got}) > 100
    for f in sorted((tmp_path / "enc" / "postings").glob("bucket=*/*.parquet")):
        t = pq.read_table(f, columns=["term_id", "segment", "block_id"])
        keys = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        assert keys == sorted(keys), f


def test_block_encoder_is_batch_split_invariant():
    """block_encoder over one sorted partition gives the same blocks
    however its Arrow batches split the (term, segment) runs — one row
    per batch, 7 rows, or the whole partition — in rows mode and in
    blocks mode (the block merge), plain and positional; no run is lost
    or split at a batch boundary."""
    import pyarrow as pa

    from keywords4cv_spark.index.build import block_encoder

    rng = np.random.default_rng(7)
    keys = sorted({(int(t), int(s)) for t, s in rng.integers(1, 40, (120, 2))})
    rows = []
    for tid, seg in keys:
        docs_ = np.sort(rng.choice(5000, int(rng.integers(1, 300)), replace=False))
        for d in docs_:
            tf = int(rng.integers(1, 5))
            rows.append((tid, seg, 7, int(d), tf, int(rng.integers(tf, 90)),
                         sorted(rng.choice(90, tf, replace=False).tolist())))
    names = ["term_id", "segment", "df", "doc_id", "tf", "dl", "positions"]
    table = pa.table(dict(zip(names, map(list, zip(*rows)))))

    def run(tbl, cfg, size, blocks=False):
        fn = block_encoder(cfg, 5000, 40.0, blocks=blocks)
        out = pa.Table.from_batches(list(fn(iter(tbl.to_batches(max_chunksize=size)))))
        return list(zip(*(out.column(c).to_pylist() for c in out.column_names)))

    for positional in (False, True):
        cfg = EngineConfig(block_size=16, store_positions=positional)
        tbl = table if positional else table.drop_columns(["positions"])
        want = run(tbl, cfg, len(rows))
        assert [r[:3] for r in want] == sorted(r[:3] for r in want)
        assert sum(r[5] for r in want) == len(rows)
        for size in (1, 7):
            assert run(tbl, cfg, size) == want
        # blocks mode: the written blocks, decoded and re-encoded, are
        # the same blocks again
        blk = pa.table({
            "term_id": [r[0] for r in want], "segment": [r[1] for r in want],
            "df": [7] * len(want), "first_doc": [r[3] for r in want],
            "n": [r[5] for r in want], "payload": [r[8] for r in want],
        })
        for size in (1, 7, len(want)):
            assert run(blk, cfg, size, blocks=True) == want


def test_compaction_equals_full_rebuild(spark, docs, tmp_path):
    """Block-level compaction of two generations must produce byte-level
    the same postings as one full build over the union: same n_salts →
    identical (term, band) runs; deterministic term ids → identical
    block splits, bounds and payloads."""
    from keywords4cv_spark.index.compact import compact_generations

    gen1 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), str(tmp_path / "cg1"), CFG,
        url_col="source",
    )
    gen2 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), str(tmp_path / "cg2"), CFG,
        url_col="source",
    )
    compacted = compact_generations(spark, [gen1, gen2], str(tmp_path / "cmp"), CFG)
    full = build_index(spark, docs, str(tmp_path / "cfull"), CFG, url_col="source")
    cols = [
        "term_id", "segment", "block_id", "first_doc", "last_doc",
        "n", "max_tf", "max_score", "payload",
    ]
    a, b = compacted.postings.select(cols), full.postings.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    da = compacted.dictionary.select("term", "term_id", "df", "cf")
    db = full.dictionary.select("term", "term_id", "df", "cf")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0
    assert compacted.stats_row()["n_docs"] == full.stats_row()["n_docs"]
    assert _rows(compacted.lineage, _LINEAGE_COLS) == _rows(full.lineage, _LINEAGE_COLS)
    # and the compacted index answers queries rank-identically
    brute = _collect(bm25_brute_force(spark, docs, CFG))
    wand = _collect(bm25_wand(spark, compacted, CFG))
    assert set(brute) == set(wand)
    for key in brute:
        assert brute[key][0] == wand[key][0], (key, brute[key], wand[key])


def test_compaction_mixed_band_layouts(spark, docs, tmp_path):
    """Generations built with DIFFERENT n_salts still compact correctly:
    a doc's band is constant across its own generation's terms, so
    (term, segment) merge groups and query-time (query, segment) groups
    remain valid doc partitions even when the band modulus differs."""
    from keywords4cv_spark.index.compact import compact_generations

    g1 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), str(tmp_path / "m1"),
        EngineConfig(n_term_buckets=2, n_salts=2, shuffle_partitions=8),
        url_col="source",
    )
    g2 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), str(tmp_path / "m2"),
        EngineConfig(n_term_buckets=2, n_salts=4, shuffle_partitions=8),
        url_col="source",
    )
    compacted = compact_generations(spark, [g1, g2], str(tmp_path / "mc"), CFG)
    brute = _collect(bm25_brute_force(spark, docs, CFG))
    wand = _collect(bm25_wand(spark, compacted, CFG))
    assert set(brute) == set(wand)
    for key in brute:
        assert brute[key][0] == wand[key][0], (key, brute[key], wand[key])
        assert abs(brute[key][1] - wand[key][1]) < 1e-9, key
    # multi-generation querying over mixed layouts is exact too
    from keywords4cv_spark.query.wand import bm25_wand_multi

    multi = _collect(bm25_wand_multi(spark, [g1, g2], CFG))
    assert set(brute) == set(multi)
    for key in brute:
        assert brute[key][0] == multi[key][0], key


def test_positional_compaction_preserves_phrase_search(spark, docs, tmp_path):
    """VERDICT r2 #4: positional generations must compact (the guard that
    refused them is gone). Block-level merge of two positional
    generations must yield byte-identical postings to a positional full
    rebuild, AND answer phrase queries identically; mixing positional
    with non-positional generations still refuses."""
    from keywords4cv_spark.index.compact import compact_generations
    from keywords4cv_spark.query.phrase import proximity_search

    pcfg = EngineConfig(
        n_term_buckets=2, n_salts=2, shuffle_partitions=8, store_positions=True
    )
    g1 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), str(tmp_path / "p1"), pcfg,
        url_col="source",
    )
    g2 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), str(tmp_path / "p2"), pcfg,
        url_col="source",
    )
    compacted = compact_generations(spark, [g1, g2], str(tmp_path / "pc"), pcfg)
    assert bool(compacted.stats_row()["store_positions"])
    full = build_index(spark, docs, str(tmp_path / "pf"), pcfg, url_col="source")
    cols = [
        "term_id", "segment", "block_id", "first_doc", "last_doc",
        "n", "max_tf", "max_score", "payload",
    ]
    a, b = compacted.postings.select(cols), full.postings.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    phrases = ["merge join", "the data", "table scan"]
    want = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in proximity_search(spark, full, phrases, slop=0).collect()
    }
    got = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in proximity_search(spark, compacted, phrases, slop=0).collect()
    }
    assert got == want and len(got) > 0
    # mixed positional/non-positional generations refuse loudly
    g3 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), str(tmp_path / "np2"),
        EngineConfig(n_term_buckets=2, n_salts=2, shuffle_partitions=8),
        url_col="source",
    )
    with pytest.raises(ValueError, match="positional"):
        compact_generations(spark, [g1, g3], str(tmp_path / "bad"), pcfg)


def test_multi_generation_rank_identical(spark, docs, tmp_path):
    """Incremental story: two disjoint-generation indexes queried together
    must be rank-identical to brute force over the union (and therefore
    to a full rebuild)."""
    from keywords4cv_spark.query.wand import bm25_wand_multi

    gen1 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), str(tmp_path / "g1"), CFG,
        url_col="source",
    )
    gen2 = build_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), str(tmp_path / "g2"), CFG,
        url_col="source",
    )
    brute = _collect(bm25_brute_force(spark, docs, CFG))
    multi = _both_sides(CFG, lambda c: bm25_wand_multi(spark, [gen1, gen2], c))
    assert set(brute) == set(multi)
    for key in brute:
        assert brute[key][0] == multi[key][0], (key, brute[key], multi[key])
        assert abs(brute[key][1] - multi[key][1]) < 1e-9, key


def test_generation_manifest_snapshots(spark, docs, tmp_path):
    """Metadata-driven generation discovery (Iceberg-snapshot analog):
    appends commit whole manifest versions, the highest committed
    version wins, uncommitted versions are invisible, re-appending a
    path is a no-op, and the loaded generations answer rank-identically
    through bm25_wand_multi."""
    import os

    from keywords4cv_spark.index.manifest import (
        append_generation,
        current_manifest,
        load_generations,
    )
    from keywords4cv_spark.query.wand import bm25_wand_multi

    fam = str(tmp_path / "family")
    g1 = str(tmp_path / "g1")
    g2 = str(tmp_path / "g2")
    build_index(spark, docs.filter(F.col("doc_id") % 2 == 0), g1, CFG,
                url_col="source")
    build_index(spark, docs.filter(F.col("doc_id") % 2 == 1), g2, CFG,
                url_col="source")
    assert current_manifest(spark, fam) is None
    append_generation(spark, fam, g1)
    m1 = current_manifest(spark, fam).collect()
    assert [r["gen_id"] for r in m1] == [0]
    append_generation(spark, fam, g2)
    m2 = current_manifest(spark, fam).collect()
    assert sorted(r["gen_id"] for r in m2) == [0, 1]
    # re-append is a no-op (no new version, no duplicate record)
    append_generation(spark, fam, g2)
    assert sorted(r["gen_id"] for r in current_manifest(spark, fam).collect()) == [0, 1]
    # an uncommitted (crashed) version is invisible to readers
    os.makedirs(os.path.join(fam, "_manifest", "v=99"), exist_ok=True)
    assert sorted(r["gen_id"] for r in current_manifest(spark, fam).collect()) == [0, 1]
    gens = load_generations(spark, fam)
    assert len(gens) == 2
    brute = _collect(bm25_brute_force(spark, docs, CFG))
    multi = _collect(bm25_wand_multi(spark, gens, CFG))
    assert set(brute) == set(multi)
    for key in brute:
        assert brute[key][0] == multi[key][0], key


def _recrawl_split(docs, mod=5, off=1_000_000,
                   suffix=" refreshed crawl snapshot content"):
    """(base_with_url, recrawled): every ``mod``-th doc re-crawled with a
    new doc_id, the SAME synthesized per-doc url, and refreshed text."""
    base = docs.withColumn(
        "url", F.concat_ws("/", F.col("source"), F.col("doc_id"))
    )
    recrawled = (
        base.filter(F.col("doc_id") % mod == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(off))
        .withColumn("text", F.concat(F.col("text"), F.lit(suffix)))
    )
    return base, recrawled


@pytest.fixture(scope="module")
def recrawl_gens(spark, docs, tmp_path_factory):
    """(base, recrawled, [gen0, gen1]): the _recrawl_split corpus built
    as two url-carrying generations."""
    d = tmp_path_factory.mktemp("recrawl")
    base, recrawled = _recrawl_split(docs)
    g0 = build_index(spark, base, str(d / "u0"), CFG, url_col="url")
    g1 = build_index(spark, recrawled, str(d / "u1"), CFG, url_col="url")
    return base, recrawled, [g0, g1]


def test_recrawl_upsert_and_purging_compaction(spark, recrawl_gens, tmp_path):
    """Recrawl upsert end-to-end (index/upsert.py):
    (a) superseded_docs tombstones exactly the stale originals of
        re-crawled urls, on both sides of its driver gate;
    (b) bm25_wand_multi(exclude=) drops them from every result while
        scoring with UNION statistics (Lucene deleted-docs semantics —
        checked against the python oracle over the union corpus), with
        bit-identical answers on every (tombstone side × WAND side);
    (c) the purging compaction equals a fresh build over the live corpus
        byte-for-byte and answers rank-identically with NO exclusion."""
    from keywords4cv_spark.index.compact import compact_generations
    from keywords4cv_spark.query.wand import bm25_wand_multi

    MOD = 5
    base, recrawled, gens = recrawl_gens

    # (a) tombstones = the en originals of re-crawled urls, nothing else
    tsides, tombs = _tombstone_sides(gens)
    expected = {
        r.doc_id
        for r in base.filter(
            (F.col("doc_id") % MOD == 0) & (F.col("lang") == "en")
        ).select("doc_id").collect()
    }
    assert tombs == expected and len(tombs) > 0

    # (b) query-time exclusion with stale union statistics
    union_rows = [
        (r.doc_id, r.text)
        for df_ in (base, recrawled)
        for r in df_.filter(F.col("lang") == "en").select("doc_id", "text").collect()
    ]
    oracle = python_bm25_oracle(union_rows, exclude=tombs)
    want = {
        (qid, rank): (doc, pytest.approx(score, abs=1e-6))
        for qid, hits in oracle.items()
        for rank, doc, score in hits
    }
    got = _four_sides(tsides, lambda c, t: bm25_wand_multi(spark, gens, c, exclude=t))
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        assert got[key][1] == want[key][1], key
    # the scenario is non-vacuous: without exclusion a stale doc ranks
    plain = _collect(bm25_wand_multi(spark, gens, CFG))
    assert any(doc in tombs for doc, _ in plain.values())

    # (c) purging compaction == fresh build over the live corpus
    live = base.filter(F.col("doc_id") % MOD != 0).unionByName(recrawled)
    purged = compact_generations(
        spark, gens, str(tmp_path / "up"), CFG, superseded=tsides["driver"]
    )
    fresh = build_index(spark, live, str(tmp_path / "uf"), CFG, url_col="url")
    cols = [
        "term_id", "segment", "block_id", "first_doc", "last_doc",
        "n", "max_tf", "max_score", "payload",
    ]
    a, b = purged.postings.select(cols), fresh.postings.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert purged.stats_row()["n_docs"] == fresh.stats_row()["n_docs"]
    assert purged.stats_row()["sum_dl"] == fresh.stats_row()["sum_dl"]
    assert _rows(purged.lineage, _LINEAGE_COLS) == _rows(fresh.lineage, _LINEAGE_COLS)
    brute = _collect(bm25_brute_force(spark, live, CFG))
    wand = _both_sides(CFG, lambda c: bm25_wand(spark, purged, c))
    assert set(brute) == set(wand)
    for key in brute:
        assert brute[key][0] == wand[key][0], (key, brute[key], wand[key])
        assert abs(brute[key][1] - wand[key][1]) < 1e-9, key


def test_purging_compaction_positional(spark, docs, tmp_path):
    """Purging merge carries position payloads: the purged index equals
    a fresh positional build over the live corpus and answers phrase
    queries identically (no stale doc ever matches a phrase)."""
    from keywords4cv_spark.index.compact import compact_generations
    from keywords4cv_spark.index.upsert import superseded_docs
    from keywords4cv_spark.query.phrase import proximity_search

    pcfg = EngineConfig(
        n_term_buckets=2, n_salts=2, shuffle_partitions=8, store_positions=True
    )
    base, recrawled = _recrawl_split(docs)
    g0 = build_index(spark, base, str(tmp_path / "pp0"), pcfg, url_col="url")
    g1 = build_index(spark, recrawled, str(tmp_path / "pp1"), pcfg, url_col="url")
    purged = compact_generations(
        spark, [g0, g1], str(tmp_path / "ppc"), pcfg,
        superseded=superseded_docs([g0, g1]),
    )
    assert bool(purged.stats_row()["store_positions"])
    live = base.filter(F.col("doc_id") % 5 != 0).unionByName(recrawled)
    fresh = build_index(spark, live, str(tmp_path / "ppf"), pcfg, url_col="url")
    cols = [
        "term_id", "segment", "block_id", "first_doc", "last_doc",
        "n", "max_tf", "max_score", "payload",
    ]
    a, b = purged.postings.select(cols), fresh.postings.select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    phrases = ["merge join", "the data", "table scan"]
    want = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in proximity_search(spark, fresh, phrases, slop=0).collect()
    }
    got = {
        (r.phrase, r.doc_id): r.n_occurrences
        for r in proximity_search(spark, purged, phrases, slop=0).collect()
    }
    assert got == want and len(got) > 0


def test_snippet_windows_match_text_scan(spark, docs, tmp_path):
    """Snippet windows computed from positional postings must equal a
    brute-force text-scan twin: same best (start, distinct-term count)
    per (query, top-k hit) under the (most terms, earliest start) rule."""
    from keywords4cv_spark.query.snippets import snippet_windows

    pcfg = EngineConfig(
        n_term_buckets=2, n_salts=2, shuffle_partitions=8, store_positions=True
    )
    idx = build_index(spark, docs, str(tmp_path / "sn"), pcfg, url_col="source")
    width = 8
    got = {
        (r.query_id, r.doc_id): (r.win_start, r.n_terms)
        for r in snippet_windows(spark, idx, pcfg, width=width).collect()
    }
    # text-scan twin over the same top-k hits
    texts = {
        r.doc_id: tokenize(r.text)
        for r in docs.filter(F.col("lang") == "en").collect()
    }
    hits = _collect(bm25_wand(spark, idx, pcfg))
    assert set(got) == {(q, d) for (q, _), (d, _) in hits.items()}
    qterms = {qid: set(query_terms(q)) for qid, q in QUERY_SET}
    for (qid, doc), (start, n) in got.items():
        toks = texts[doc]
        pos = [
            (p, t) for p, t in enumerate(toks) if t in qterms[qid]
        ]
        best = (-1, -1)
        for s, _ in pos:
            cnt = len({t for p, t in pos if s <= p < s + width})
            if cnt > best[1]:
                best = (s, cnt)
        assert (start, n) == best, (qid, doc, (start, n), best)
        assert 1 <= n <= len(qterms[qid])


def test_proximity_search_semantics(spark, docs, tmp_path):
    """proximity_search must match a brute-force reachability twin over
    the tokenized text (distinct chain END positions): slop=0 is the
    exact phrase's adjacency count, and slop>0 includes a 3-term phrase
    where greedy chaining would be wrong."""
    from keywords4cv_spark.query.phrase import proximity_search

    pcfg = EngineConfig(
        n_term_buckets=2, n_salts=2, shuffle_partitions=8, store_positions=True
    )
    idx = build_index(spark, docs, str(tmp_path / "px"), pcfg, url_col="source")
    phrases = ["merge join", "the data", "table scan", "data column query"]

    def brute(slop):
        gap = 1 + slop
        out = {}
        for r in docs.filter(F.col("lang") == "en").collect():
            toks = tokenize(r.text)
            for ph in phrases:
                terms = tokenize(ph)
                reach = {i for i, t in enumerate(toks) if t == terms[0]}
                for t in terms[1:]:
                    reach = {
                        q for q, tok in enumerate(toks)
                        if tok == t and any(p < q <= p + gap for p in reach)
                    }
                if reach:
                    out[(ph, r.doc_id)] = len(reach)
        return out

    for slop in (0, 2):
        got = {
            (r.phrase, r.doc_id): r.n_occurrences
            for r in proximity_search(spark, idx, phrases, slop=slop).collect()
        }
        assert got == brute(slop), f"slop={slop}"


def test_search_after_pages_reconstruct_full_ranking(spark, index):
    """Cursor pagination: concatenating successive search-after pages
    must reproduce the one-shot deep top-k exactly (same docs, same
    order), for several page hops, on each side of the driver gate —
    and the pages of the two sides are bit-identical."""
    PAGE, PAGES = 5, 4
    pages = {}
    for side, cfg in _gate_sides(CFG).items():
        want = _collect(bm25_wand(spark, index, cfg, k=PAGE * PAGES))
        got = {}
        cursors = {}
        active = None  # all queries on page 1
        for page in range(PAGES):
            pairs = (
                None
                if active is None
                else [(q, t) for q, t in query_term_pairs() if q in active]
            )
            rows = bm25_wand(
                spark, index, cfg, k=PAGE, queries=pairs,
                after=cursors if cursors else None,
            ).collect()
            by_q = {}
            for r in rows:
                by_q.setdefault(r.query_id, []).append(r)
                got[(r.query_id, page * PAGE + r.rank)] = (r.doc_id, r.score)
            cursors = {
                qid: (float(rs[-1].score), int(rs[-1].doc_id))
                for qid, rs in (
                    (qid, sorted(rs, key=lambda r: r.rank)) for qid, rs in by_q.items()
                )
                if len(rs) == PAGE
            }
            active = set(cursors)
            if not active:
                break
        assert got == want, side
        pages[side] = got
    assert pages["driver"] == pages["spark"]


def test_superseded_docs_within_generation_dup(spark, docs, tmp_path):
    """A url crawled twice in the SAME batch: the winner-per-url rule
    (max(gen_seq, doc_id)) keeps the newest capture (highest doc_id)
    and tombstones the earlier one — no cross-generation recrawl
    needed. Both sides of the tombstone gate hold that set, and the
    excluding WAND answers agree on every (tombstone side × WAND
    side)."""
    from keywords4cv_spark.query.wand import bm25_wand_multi

    base = docs.withColumn(
        "url", F.concat_ws("/", F.col("source"), F.col("doc_id"))
    )
    # duplicate the first 3 en docs into the same batch with new doc_ids
    dups = (
        base.filter(F.col("lang") == "en").orderBy("doc_id").limit(3)
        .withColumn("doc_id", F.col("doc_id") + F.lit(500_000))
    )
    batch = base.unionByName(dups)
    g = build_index(spark, batch, str(tmp_path / "wg"), CFG, url_col="url")
    tsides, tombs = _tombstone_sides([g])
    originals = {
        r.doc_id for r in base.filter(F.col("lang") == "en")
        .orderBy("doc_id").limit(3).collect()
    }
    assert tombs == originals
    got = _four_sides(tsides, lambda c, t: bm25_wand_multi(spark, [g], c, exclude=t))
    assert got and not {doc for doc, _ in got.values()} & tombs


def test_tombstones_in_the_driver_run_no_job(spark, recrawl_gens):
    """superseded_docs derives once, when called: a set under the gate
    is a local relation, so collecting it and a warm driver-path
    bm25_wand_multi(exclude=...) collect submit no Spark job. An empty
    set (no url re-crawled) is a 0-job local relation too. Jobs are
    counted on collect(): a local relation's count() is a job."""
    from keywords4cv_spark.index.upsert import superseded_docs
    from keywords4cv_spark.query.wand import bm25_wand_multi

    _, _, gens = recrawl_gens
    tomb = superseded_docs(gens, CFG)
    assert _is_local(tomb)
    rows, n_jobs = _jobs(spark, tomb.collect)
    assert rows and n_jobs == 0
    drv = _gate_sides(CFG)["driver"]
    warm = _collect(bm25_wand_multi(spark, gens, drv, exclude=tomb))
    got, n_jobs = _jobs(spark, lambda: _collect(bm25_wand_multi(spark, gens, drv, exclude=tomb)))
    assert got == warm and n_jobs == 0
    # every url of one generation is distinct: nothing is superseded
    for g in gens:
        empty = superseded_docs([g], CFG)
        assert _is_local(empty)
        assert _jobs(spark, empty.collect) == ([], 0)


def test_driver_wand_reads_tombstone_ids_without_collect(spark, recrawl_gens, monkeypatch):
    """The local relation superseded_docs returns carries its ids, and a
    driver-path bm25_wand_multi(exclude=...) uses them: with
    DataFrame.collect made to raise, the batch still gives the same
    answer."""
    from keywords4cv_spark.index.upsert import superseded_docs
    from keywords4cv_spark.query.wand import bm25_wand_multi

    _, _, gens = recrawl_gens
    drv = _gate_sides(CFG)["driver"]
    tomb = superseded_docs(gens, CFG)
    assert tomb._k4cv_doc_ids == {r.doc_id for r in tomb.collect()}
    want = _collect(bm25_wand_multi(spark, gens, drv, exclude=tomb))

    def no_collect(self):
        raise AssertionError("exclude relation collected")

    with monkeypatch.context() as m:
        m.setattr(type(tomb), "collect", no_collect)
        got = bm25_wand_multi(spark, gens, drv, exclude=tomb)
    assert _collect(got) == want and want


def test_empty_generation_list_answers_empty(spark, tmp_path):
    """A family with no committed generation loads as [] — the tombstone
    set over it is an empty (doc_id long) relation and a multi-generation
    query over it an empty result of the WAND schema, on both sides of
    the driver gate."""
    from keywords4cv_spark.index.manifest import load_generations
    from keywords4cv_spark.index.upsert import superseded_docs
    from keywords4cv_spark.query.wand import bm25_wand_multi

    gens = load_generations(spark, str(tmp_path / "no_family"))
    assert gens == []
    tomb = superseded_docs(gens)
    assert tomb.dtypes == [("doc_id", "bigint")] and tomb.collect() == []
    want = [("query_id", "bigint"), ("rank", "int"), ("doc_id", "bigint"),
            ("score", "double")]
    for cfg in _gate_sides(CFG).values():
        for exclude in (None, tomb):
            df = bm25_wand_multi(spark, gens, cfg, exclude=exclude)
            assert df.dtypes == want and df.collect() == []


def test_manifest_compaction_lineage_and_fencing(spark, docs, tmp_path):
    """VERDICT r3 next #8: the manifest survives a compact-then-append
    sequence — record_compaction removes the replaced generations from
    the current snapshot, records which gen_ids the compacted tree
    subsumed (lineage), and a later append coexists with the compacted
    record; multi-generation retrieval through the manifest stays
    rank-identical to brute force throughout. Plus the writer fence: a
    version dir committed out from under an appender raises instead of
    silently dropping a record."""
    import os

    from keywords4cv_spark.index.compact import compact_generations
    from keywords4cv_spark.index.manifest import (
        append_generation,
        current_manifest,
        load_generations,
        record_compaction,
    )
    from keywords4cv_spark.query.wand import bm25_wand_multi

    fam = str(tmp_path / "family")
    thirds = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i in (0, 1):
        build_index(spark, thirds[i], str(tmp_path / f"g{i}"), CFG,
                    url_col="source")
        append_generation(spark, fam, str(tmp_path / f"g{i}"))
    gens = load_generations(spark, fam)
    compacted_dir = str(tmp_path / "compacted")
    compact_generations(spark, gens, compacted_dir, CFG)
    record_compaction(spark, fam, compacted_dir, [0, 1])
    recs = {r["gen_id"]: r.asDict() for r in current_manifest(spark, fam).collect()}
    assert set(recs) == {2}
    assert recs[2]["replaces"] == "0,1"
    assert recs[2]["schema_fp"]
    # append a third generation AFTER compaction
    build_index(spark, thirds[2], str(tmp_path / "g2"), CFG, url_col="source")
    append_generation(spark, fam, str(tmp_path / "g2"))
    recs = {r["gen_id"]: r.asDict() for r in current_manifest(spark, fam).collect()}
    assert set(recs) == {2, 3}
    assert recs[3]["replaces"] == ""
    assert recs[3]["schema_fp"] == recs[2]["schema_fp"]
    brute = _collect(bm25_brute_force(spark, docs, CFG))
    multi = _collect(bm25_wand_multi(spark, load_generations(spark, fam), CFG))
    assert set(brute) == set(multi)
    for key in brute:
        assert brute[key][0] == multi[key][0], key
        assert abs(brute[key][1] - multi[key][1]) < 1e-9, key
    # writer fence: steal the next version number, then try to append
    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(os.path.join(fam, "_manifest"))
        if d.startswith("v=")
    )
    stolen = os.path.join(fam, "_manifest", f"v={versions[-1] + 1}")
    os.makedirs(stolen)
    with open(os.path.join(stolen, "marker"), "w") as f:
        f.write("concurrent writer")
    build_index(spark, docs.filter(F.col("lang") == "en").limit(5),
                str(tmp_path / "g3"), CFG, url_col="source")
    with pytest.raises(RuntimeError, match="committed concurrently"):
        append_generation(spark, fam, str(tmp_path / "g3"))


def test_manifest_time_travel(spark, docs, tmp_path):
    """Snapshot time travel (Iceberg VERSION AS OF analog): earlier
    manifest versions stay readable after later appends AND after a
    compaction that logically removed generations — a reader pinned to
    the pre-compaction version still sees (and can query) the original
    generation set, rank-identically."""
    from keywords4cv_spark.index.compact import compact_generations
    from keywords4cv_spark.index.manifest import (
        append_generation,
        load_generations,
        manifest_at,
        record_compaction,
    )
    from keywords4cv_spark.query.wand import bm25_wand_multi

    fam = str(tmp_path / "family")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    for i in (0, 1):
        build_index(spark, halves[i], str(tmp_path / f"g{i}"), CFG,
                    url_col="source")
        append_generation(spark, fam, str(tmp_path / f"g{i}"))
    gens_v1 = load_generations(spark, fam)
    compacted = str(tmp_path / "compacted")
    compact_generations(spark, gens_v1, compacted, CFG)
    record_compaction(spark, fam, compacted, [0, 1])
    # v=0: one generation; v=1: two; v=2 (current): the compacted tree
    assert [r["gen_id"] for r in manifest_at(spark, fam, 0).collect()] == [0]
    assert sorted(r["gen_id"] for r in manifest_at(spark, fam, 1).collect()) == [0, 1]
    assert [r["replaces"] for r in manifest_at(spark, fam, 2).collect()] == ["0,1"]
    with pytest.raises(ValueError, match="no committed manifest version"):
        manifest_at(spark, fam, 7)
    # the pre-compaction snapshot still answers, rank-identical to now
    old_gens = load_generations(spark, fam, version=1)
    assert len(old_gens) == 2
    brute = _collect(bm25_brute_force(spark, docs, CFG))
    then = _collect(bm25_wand_multi(spark, old_gens, CFG))
    now = _collect(bm25_wand_multi(spark, load_generations(spark, fam), CFG))
    assert set(brute) == set(then) == set(now)
    for key in brute:
        assert brute[key][0] == then[key][0] == now[key][0], key


def test_expire_snapshots_gc(spark, docs, tmp_path):
    """expire_snapshots (Iceberg analog): old manifest versions drop,
    index trees referenced only by expired versions are reclaimed,
    retained snapshots (and the current query path) keep working."""
    import os

    from keywords4cv_spark.index.compact import compact_generations
    from keywords4cv_spark.index.manifest import (
        append_generation,
        expire_snapshots,
        load_generations,
        manifest_at,
        record_compaction,
    )
    from keywords4cv_spark.query.wand import bm25_wand_multi

    fam = str(tmp_path / "family")
    halves = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
    g = [str(tmp_path / f"g{i}") for i in range(2)]
    for i in (0, 1):
        build_index(spark, halves[i], g[i], CFG, url_col="source")
        append_generation(spark, fam, g[i])
    compacted = str(tmp_path / "compacted")
    compact_generations(spark, load_generations(spark, fam), compacted, CFG)
    record_compaction(spark, fam, compacted, [0, 1])  # v=2
    # nothing to expire when history fits the window
    assert expire_snapshots(spark, fam, keep_last=3) == {
        "expired_versions": [], "removed_trees": []}
    out = expire_snapshots(spark, fam, keep_last=1)
    assert out["expired_versions"] == [0, 1]
    # g0/g1 only referenced by expired versions → reclaimed; compacted kept
    assert sorted(out["removed_trees"]) == sorted(
        os.path.abspath(p) for p in g)
    assert not os.path.exists(g[0]) and not os.path.exists(g[1])
    assert os.path.exists(compacted)
    with pytest.raises(ValueError, match="no committed manifest version"):
        manifest_at(spark, fam, 1)
    # the retained snapshot still answers, rank-identical to brute force
    brute = _collect(bm25_brute_force(spark, docs, CFG))
    now = _collect(bm25_wand_multi(spark, load_generations(spark, fam), CFG))
    assert set(brute) == set(now)
    for key in brute:
        assert brute[key][0] == now[key][0], key


def test_fused_tf_matches_classic_path(spark, docs):
    """term_frequencies_fused (tokenize+count in one Arrow pass, zero
    shuffle) must emit the exact relation the classic explode + groupBy
    path produces — rows, dtypes, and ascending positions included."""
    from keywords4cv_spark.index.build import (
        term_frequencies,
        term_frequencies_fused,
        tokenized_docs,
    )

    for wp in (False, True):
        cfg = EngineConfig(store_positions=wp)
        classic = term_frequencies(tokenized_docs(docs, cfg), with_positions=wp)
        fused = term_frequencies_fused(docs, cfg, with_positions=wp)
        # nullability flags differ (agg outputs are non-null by
        # construction); names + types are the contract
        shape = lambda df: [  # noqa: E731
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ]
        assert shape(fused) == shape(classic), (fused.schema, classic.schema)
        n_c, n_f = classic.count(), fused.count()
        assert n_c == n_f, (n_c, n_f)
        assert fused.exceptAll(classic).count() == 0
        assert classic.exceptAll(fused).count() == 0


def test_fused_tf_has_no_shuffle(spark, docs):
    """The fused tf plan is scan → mapInPandas: any Exchange here means
    the row-local aggregation regressed to a corpus-sized shuffle."""
    from keywords4cv_spark.index.build import term_frequencies_fused
    from keywords4cv_spark.plans.inspect import explain_str, without_aqe

    with without_aqe(spark):
        plan = explain_str(term_frequencies_fused(docs, EngineConfig()), mode="simple")
    assert "Exchange" not in plan, plan

