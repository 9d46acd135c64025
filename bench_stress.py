#!/usr/bin/env python
"""sf1.0 spot-stress of the retrieval family (VERDICT r4 next #7).

Runs the heavy-hitter queries at 100× the correctness-gate scale
(50,000 docs = sf1.0-equivalent; the gate runs at sf0.01 = 500) with
the SAME DuckDB value-level oracles, and records per-query wall time
plus the postings partition-skew table.

The corpus is the sf0.1 testdata amplified ×10: copy k of doc d gets
doc_id = d + k·50_000_000 and one extra distinguishing token appended,
so copies are NEAR-duplicates (59/60-token Jaccard) — which stresses
the LSH → verify → connected-components cascade with 10-clique dup
families on top of the corpus's own planted pairs, exactly the shape a
recrawl-heavy web corpus has. Deterministic in (source table, k).

Prints one JSON line and writes BENCH/stress_sf1_r{round}.json.

Usage: python bench_stress.py [--round 5] [--copies 10]
NB: do not run concurrently with bench.py / bench_scaling.py.
"""

from __future__ import annotations

import argparse
import json
import os
import time

# (query, copies): the retrieval family sweeps at the full 100×-gate
# scale (50k docs); the dedup cascade sweeps at 40× (20k docs) because
# its ORACLE — the recursive transitive-closure CTE + SQL jaccard
# verify in DuckDB — goes super-linear in the amplified dup-family
# size (>35 min at ×10), while the Spark side finished in minutes. The
# scale cap is an oracle-cost cap, not an engine limit; the engine side
# is additionally run at ×10 with a rows-only check.
STRESS_QUERIES: list[tuple[str, int]] = [
    ("bm25_wand_topk", 10),
    ("prefix_query", 10),
    ("phrase_query_indexed", 10),
    ("curated_corpus_clean", 4),
    ("dup_components", 4),
    # round-5 late additions (search-engine surface); hybrid_rrf_topk is
    # excluded only because the amplified corpus has no embeddings table
    # — its two component rankers are each stressed here and in the
    # sf0.1 sweep.
    ("mlt_topk", 10),
    ("bm25_collapsed_topk", 10),
    ("bm25_explain", 10),
    ("search_facets", 10),
    ("index_segment_stats", 10),
    # the search front door (indexed executor): parser + clause algebra
    # + WAND fast path + positional phrase chains at 100× gate scale
    ("query_string_search", 10),
]
ROWS_ONLY_AT_FULL = ["curated_corpus_clean", "dup_components"]

SRC = "/root/testdata/sf0.1"
COPY_STRIDE = 50_000_000


def ensure_corpus(spark, out_dir: str, copies: int) -> str:
    from pyspark.sql import functions as F

    marker = os.path.join(out_dir, "documents.parquet", "_SUCCESS")
    if os.path.exists(marker):
        return out_dir
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    parts = []
    for k in range(copies):
        d = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * COPY_STRIDE)
        )
        if k > 0:
            # one extra token makes copies NEAR-dups, not exact dups
            d = d.withColumn(
                "text", F.concat(F.col("text"), F.lit(f" copymark{k}"))
            )
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    return out_dir


def postings_skew(spark, sf_dir: str) -> dict:
    """Block counts per (bucket, segment) partition of the index the
    WAND query used — max/mean is the skew number that decides whether
    the Zipf salting held at this scale."""
    from pyspark.sql import functions as F

    from keywords4cv_spark.driver_queries import _index_for

    index = _index_for(spark, sf_dir)
    rows = (
        index.postings.groupBy("bucket", "segment")
        .agg(F.count("*").alias("blocks"), F.sum("n").alias("postings"))
        .collect()
    )
    blocks = [int(r["blocks"]) for r in rows]
    posts = [int(r["postings"]) for r in rows]
    return {
        "partitions": len(rows),
        "blocks_max": max(blocks),
        "blocks_mean": round(sum(blocks) / len(blocks), 1),
        "blocks_skew": round(max(blocks) / (sum(blocks) / len(blocks)), 2),
        "postings_max": max(posts),
        "postings_mean": round(sum(posts) / len(posts), 1),
        "postings_skew": round(max(posts) / (sum(posts) / len(posts)), 2),
    }


def _canon(df):
    out = df.reindex(sorted(df.columns), axis=1)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def _values_equal(got, want) -> bool:
    import math

    if len(got) != len(want):
        return False
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        for a, b in zip(g[c].tolist(), w[c].tolist()):
            if isinstance(a, float) or isinstance(b, float):
                fa, fb = float(a), float(b)
                if not (
                    (math.isnan(fa) and math.isnan(fb)) or abs(fa - fb) < 1e-9
                ):
                    return False
            elif a != b:
                return False
    return True


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: run just these and MERGE "
        "into the existing BENCH/stress_sf1_r{round}.json record "
        "(skips the rows-only full-scale pass unless listed)",
    )
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    import sys
    import tempfile

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from keywords4cv_spark.driver_queries import ORACLES, QUERIES
    from keywords4cv_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cpus}]",
        app_name="k4cv-stress",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    stress_queries = [
        (n, c) for n, c in STRESS_QUERIES if only is None or n in only
    ]
    rows_only_at_full = [
        n for n in ROWS_ONLY_AT_FULL if only is None or n in only
    ]

    dirs: dict[int, str] = {}
    cons: dict[int, object] = {}
    n_docs: dict[int, int] = {}
    for copies in sorted({c for _, c in stress_queries} | {10}):
        d = os.path.join(tempfile.gettempdir(), f"k4cv_stress_sf1_x{copies}")
        ensure_corpus(spark, d, copies)
        dirs[copies] = d
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{d}/documents.parquet/*.parquet'"
        )
        cons[copies] = con
        n_docs[copies] = spark.read.parquet(f"{d}/documents.parquet").count()

    results: dict[str, dict] = {}
    fails: list[str] = []
    for name, copies in stress_queries:
        t0 = time.perf_counter()
        got = QUERIES[name](spark, dirs[copies]).toPandas()
        spark_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        want = cons[copies].execute(ORACLES[name]).fetchdf()
        duck_sec = time.perf_counter() - t0
        ok = _values_equal(got, want)
        if not ok:
            fails.append(name)
        results[name] = {
            "n_docs": n_docs[copies],
            "rows": len(got),
            "match": ok,
            "spark_sec": round(spark_sec, 2),
            "duckdb_sec": round(duck_sec, 2),
        }
        print(
            f"{name}@x{copies}: rows={len(got)} match={ok} "
            f"spark={spark_sec:.1f}s duckdb={duck_sec:.1f}s",
            flush=True,
        )

    # engine-only pass at full scale for the oracle-capped queries
    full = max(dirs)
    for name in rows_only_at_full:
        t0 = time.perf_counter()
        rows = QUERIES[name](spark, dirs[full]).count()
        results[f"{name}@full"] = {
            "n_docs": n_docs[full],
            "rows": int(rows),
            "match": None,
            "spark_sec": round(time.perf_counter() - t0, 2),
            "note": "rows-only (oracle cost-capped, see STRESS_QUERIES)",
        }
        print(
            f"{name}@x{full} rows-only: rows={rows} "
            f"spark={results[f'{name}@full']['spark_sec']}s",
            flush=True,
        )

    skew = postings_skew(spark, dirs[full])
    out = {
        "metric": "sf1.0 stress (100x gate scale) value-level sweep",
        "n_docs_full": n_docs[full],
        "cpus": args.cpus,
        "queries": results,
        "postings_skew": skew,
        "fails": fails,
    }
    dest = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        f"stress_sf1_r{args.round}.json",
    )
    if only is not None and os.path.exists(dest):
        with open(dest) as f:
            prev = json.load(f)
        prev["queries"].update(out["queries"])
        prev["postings_skew"] = out["postings_skew"]
        prev["fails"] = sorted(
            set(prev.get("fails", [])) - {n for n, _ in stress_queries}
            | set(fails)
        )
        out = prev
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
