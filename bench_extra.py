#!/usr/bin/env python
"""Per-query profiling harness (bench.py stays frozen for the driver).

For each registry query: wall seconds per repeat AND the number of
Spark jobs the query submitted (job-group bookkeeping via the status
tracker) — the local-mode scheduling floor is per job, so job count is
the first thing to shrink for sub-10s queries (guide §1.5/§7.1). ``rdds``
is the JVM's persistent-RDD count after the last repeat: the leak
column (a registry call releases what the previous one staged, so it
should not climb from query to query beyond the cached indexes).

Usage:
    python bench_extra.py                 # all queries, 2 reps
    python bench_extra.py bm25_wand_topk dup_components
    SPARK_GRAFT_REPEATS=3 python bench_extra.py ...

Prints one JSON line per query, then a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

from keywords4cv_spark.session import get_spark, host_cpus, persistent_rdds


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
    spark = get_spark(
        master=f"local[{cpus}]", app_name="k4cv-profile", shuffle_partitions=cpus
    )
    from keywords4cv_spark.driver_queries import QUERIES

    names = sys.argv[1:] or sorted(QUERIES)
    sc = spark.sparkContext
    st = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        if name not in QUERIES:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        times, jobs = [], []
        for rep in range(reps):
            grp = f"{name}#{rep}"
            sc.setJobGroup(grp, name)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            times.append(round(dt, 3))
            jobs.append(len(st.getJobIdsForGroup(grp)))
        out[name] = {"t": times, "jobs": jobs, "rdds": len(persistent_rdds(spark))}
        print(json.dumps({name: out[name]}), flush=True)
    total_min = sum(min(v["t"]) for v in out.values())
    print(
        json.dumps(
            {
                "summary": {
                    "sf_dir": sf_dir,
                    "cpus": cpus,
                    "total_min_sum": round(total_min, 3),
                    "queries": out,
                }
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
