#!/usr/bin/env python3
"""Seeded benchmark of the keywords4cv_spark engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. One process, one client, one local
SparkSession fitted to the host (``SPARK_GRAFT_CPUS`` = CPU count, an
explicit driver heap). Everything a run writes stays under
``.perfbench/`` in the repository root: cached corpora and the cached
recrawl base index, the run's index trees, Spark scratch and temp
files, the span file of traced runs.

Standard output: a JSON line describing host, versions and inputs, one
line per metric with its unit, and, as the last line, one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` its per-layer ones (README.md). A
run that crashes still prints that object, with its unfinished
operations counted as failed, and exits 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ENGINE = os.path.join(ROOT, "keywords4cv_spark")
PREPARE_TIMEOUT_S = 600


def _host_heap_gb() -> int:
    """Driver heap: a quarter of physical RAM, between 1 and 4 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(4, kb // (4 * 1024 * 1024)))


def _engine_key() -> str:
    """Hash of the engine's source tree: keys caches built by the engine."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(ENGINE):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                h.update(os.path.relpath(full, ENGINE).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "not-a-git-checkout"


def _tree_rss_mb(pid: int) -> tuple[float, float, int]:
    """Peak RSS (VmHWM, MB) of ``pid`` and summed over its descendants
    (the Python workers), and the number of descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    own_kb, kids_kb, n_kids, todo = 0, 0, 0, [pid]
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            with open(f"/proc/{p}/status") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if p == pid:
            own_kb = kb
        else:
            kids_kb += kb
            n_kids += 1
    return own_kb / 1024.0, kids_kb / 1024.0, n_kids


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _fit_host() -> tuple[int, int]:
    """Point temp files, Spark scratch and the engine's CPU/heap knobs
    at this host and this checkout; returns (cpus, heap_gb)."""
    cpus = len(os.sched_getaffinity(0))
    heap_gb = _host_heap_gb()
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        PYSPARK_PYTHON=sys.executable,
    )
    sys.path[:0] = [ROOT, HERE]
    return cpus, heap_gb


def _engine_config(cpus: int):
    from keywords4cv_spark.config import EngineConfig

    return EngineConfig(n_term_buckets=2, n_salts=4, shuffle_partitions=cpus)


def _start_spark(cpus: int):
    from keywords4cv_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _declared_units(section: str) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _emit(correct: bool, attempted: int, failed: int,
          metrics: dict[str, tuple[float, str]]) -> None:
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


def _prepare_recrawl_base(engine_key: str) -> float:
    """Build the cached recrawl base in a child process if it is missing;
    returns the seconds spent (0 when cached)."""
    from workloads import BASE_READY, recrawl_base

    _, family = recrawl_base(os.path.join(WORK, "cache"), engine_key)
    if os.path.exists(os.path.join(family, BASE_READY)):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-recrawl-base"],
        cwd=ROOT, check=True, timeout=PREPARE_TIMEOUT_S,
        stdout=subprocess.DEVNULL,
    )
    return time.perf_counter() - t0


def _build_recrawl_base() -> int:
    cpus, _ = _fit_host()
    from workloads import build_recrawl_base

    spark = _start_spark(cpus)
    try:
        build_recrawl_base(spark, _engine_config(cpus), os.path.join(WORK, "cache"),
                           _engine_key())
    finally:
        _stop_spark(spark)
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-recrawl-base", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        print("perfbench: keywords4cv_spark not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    if args.build_recrawl_base:
        return _build_recrawl_base()
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    cpus, heap_gb = _fit_host()
    import layers
    from spans import Tracer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    engine_key = _engine_key()
    index_dir = os.path.join(WORK, f"index-{args.workload}")
    shutil.rmtree(index_dir, ignore_errors=True)
    tracer = Tracer(enabled=bool(args.trace))
    cfg = _engine_config(cpus)
    run = Run(
        spark=None, tracer=tracer, cfg=cfg, seed=args.seed, seconds=args.seconds,
        cache_dir=os.path.join(WORK, "cache"), index_dir=index_dir,
        engine_key=engine_key,
    )
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "driver_heap": f"{heap_gb}g",
        "python": sys.version.split()[0], "git_commit": _git_commit(),
        "engine_key": engine_key,
        "engine_config": {"n_term_buckets": cfg.n_term_buckets, "n_salts": cfg.n_salts,
                          "shuffle_partitions": cfg.shuffle_partitions},
    }

    spark = None
    crashed = None
    result: dict = {}
    session_s = rss_mb = 0.0
    steal0 = _steal_s()
    try:
        if args.workload == "recrawl":
            info["prepare_s"] = _prepare_recrawl_base(engine_key)
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = _start_spark(cpus)
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        run.spark = spark
        sc = spark.sparkContext
        info.update(
            master=sc.master, spark=spark.version,
            java=sc._jvm.java.lang.System.getProperty("java.version"),
        )
        print(json.dumps({"perfbench": info}), flush=True)
        result = WORKLOADS[args.workload](run)
    except Exception:  # the run must still report what it did
        crashed = traceback.format_exc()
        print(crashed, file=sys.stderr)
    finally:
        if spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None and getattr(gw, "proc", None) is not None:
                jvm_mb, workers_mb, n_workers = _tree_rss_mb(gw.proc.pid)
                rss_mb = jvm_mb + workers_mb
                info.update(jvm_rss_mb=jvm_mb, workers_rss_mb=workers_mb,
                            n_workers=n_workers)
            t0 = time.perf_counter()
            _stop_spark(spark)
            info["teardown_s"] = time.perf_counter() - t0

    if crashed is not None:
        # the operation that raised and every one not reached count as failed
        remaining = max(1, run.planned - run.attempted)
        _emit(False, run.attempted + remaining, run.failed + remaining, {})
        return 1

    lat = result["latencies_ms"]
    p50 = statistics.median(lat)
    build_rate = run.info["build_docs"] / run.info["build_s"]
    setup_s = session_s + run.info["setup_s"]
    info.update(run.info)
    info.update(session_s=session_s, peak_rss_mb=rss_mb, steal_s=_steal_s() - steal0,
                failures=run.notes[:20])
    print(json.dumps({"perfbench_run": info}), flush=True)

    if args.trace:
        tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        values = {
            "session.start_s": session_s,
            "memory.peak_rss_mb": rss_mb,
            "textprep.tokenize_us_per_doc":
                layers.tokenize_us_per_doc(run.info["corpus_paths"], cfg),
            **layers.codec_probe(run.info["build_dir"], cfg),
            **layers.span_metrics(tracer, run.info),
            "traced.setup_s": setup_s,
            "traced.build_docs_per_s": build_rate,
            "traced.query_p50_ms": p50,
        }
    else:
        values = {
            "setup_s": setup_s,
            "build_docs_per_s": build_rate,
            "index_bytes_per_text_byte": run.info["index_bytes_per_text_byte"],
            "query_p50_ms": p50,
        }
    units = _declared_units("per_layer" if args.trace else "end_to_end")
    if set(values) != set(units):
        print(f"perfbench: metrics {sorted(set(values) ^ set(units))} "
              "disagree with BENCHMARK.json", file=sys.stderr)
        return 1
    _emit(run.failed == 0, max(run.attempted, 1), run.failed,
          {k: (values[k], units[k]) for k in units})
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
