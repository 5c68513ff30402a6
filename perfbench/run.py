#!/usr/bin/env python3
"""Frontier benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload schedule_1host --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates the workload's inputs from
``--seed``, starts Spark on ``local[nproc]``, measures for ``--seconds``
seconds through the engine's public entry points, checks every timed result
against an independent reference, and prints one JSON object as the last
line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from a
staged, span-recorded replay of the same workload (spans are written to
``.perfbench/traces/``).  The lines before it give the session settings and
the realised input properties.  The exit code is non-zero when an output is
wrong or the engine cannot be imported.

Load model: one closed-loop client.  Each timed pass or crawl starts after
the previous one finished; Spark gets ``nproc`` cores and nothing else runs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

WORKLOADS = ("schedule_1host", "crawl_fixpoint")
END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "URLs/s",
    "crawl_pages_per_s": "pages/s",
    "epoch_s_p50": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "urls.canon_s": "s",
    "urls.canon_ns_per_url": "ns/URL",
    "frontier.dedup_s": "s",
    "frontier.dedup_shuffle_bytes_per_url": "B/URL",
    "frontier.unique_share": "ratio",
    "frontier.rejoin_s": "s",
    "frontier.rejoin_rows": "rows",
    "seen.build_s": "s",
    "seen.probe_s": "s",
    "seen.probe_shuffle_bytes_per_url": "B/URL",
    "seen.exact_check_rows": "rows",
    "seen.bloom_positive_share": "ratio",
    "seen.bloom_fp_share": "ratio",
    "politeness.pop_s": "s",
    "politeness.level1_rows": "rows",
    "politeness.pop_shuffle_bytes_per_url": "B/URL",
    "politeness.pop_task_skew": "ratio",
    "robots.filter_s": "s",
    "robots.blocked_share": "ratio",
    "parse.children_s": "s",
    "parse.items_s": "s",
    "parse.pages_per_s": "pages/s",
    "parse_typed.extract_s": "s",
    "parse_typed.items": "count",
    "retry.retried_share": "ratio",
    "lake.write_s": "s",
    "lake.write_calls": "count",
    "lake.files_written": "count",
    "lake.bytes_written": "B",
    "lake.commit_s": "s",
    "epoch_loop.epochs": "count",
    "epoch_loop.jobs_per_epoch": "count",
    "epoch_loop.stages_per_epoch": "count",
    "epoch_loop.task_busy_share": "ratio",
    "scaling.core_efficiency": "ratio",
    "trace.overhead_s": "s",
}
# the session factory defaults to a 24g heap pinned at 8g; this fits a 15 GB box
HEAP = "3g"
SETUP_REPEATS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(cores: int, work: Path):
    from nrsr_crawler_spark.session import get_spark

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers unpickle engine and benchmark functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # every scratch file goes under ``work``; without -XX:-UsePerfData each
    # JVM (the spark-submit launcher too) writes a counters file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    extra = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{HEAP} -Djava.io.tmpdir={work}",
        "spark.hadoop.hadoop.tmp.dir": str(work / "hadoop"),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def session_info(spark, cores: int) -> dict:
    return {
        "cores": cores,
        "heap": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def timed_loop(seconds: float, fn) -> list:
    """Call ``fn`` back to back until ``seconds`` have passed, at least once."""
    out = []
    end = time.perf_counter() + seconds
    while not out or time.perf_counter() < end:
        out.append(fn())
    return out


def median(values) -> float:
    return float(statistics.median(values))


def schedule_workload(args, spark, session_s: float, sp) -> tuple[dict, int, int, dict]:
    import schedule as S

    setups, st = [], None
    for _ in range(SETUP_REPEATS):
        if st is not None:
            st.release()
        t0 = time.perf_counter()
        st = S.setup(spark, args.seed, args.scale)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    S.run_pass(st)  # warm-up: codegen, JIT, Python workers
    warm_s = time.perf_counter() - t0

    window = args.seconds / 2 if args.trace else args.seconds
    passes = timed_loop(window, lambda: S.run_pass(st))
    traced = timed_loop(window, lambda: S.traced_pass(st, sp)) if args.trace else []
    chk = S.check(st)
    ref = chk["ref_fingerprint"]
    prints = [fp for _, fp in passes] + [t["_fingerprint"] for t in traced]
    failed = len(prints) if chk["bloom_fn"] else sum(fp != ref for fp in prints)
    pass_s = median(t for t, _ in passes)
    props = dict(chk["props"], setup_repeats_s=setups, warmup_s=warm_s, pass_s=[t for t, _ in passes])
    if not args.trace:
        metrics = {
            "setup_s": session_s + median(setups) + warm_s,
            "urls_per_s": st.n / pass_s,
            "crawl_pages_per_s": props["popped"] / pass_s,
            "epoch_s_p50": pass_s,
        }
        return metrics, len(prints), failed, props
    layers = {k: median(t[k] for t in traced) for k in traced[0] if not k.startswith("_")}
    layers.update(S.bloom_layer(chk))
    layers["seen.build_s"] = st.seen_build_s
    layers["trace.overhead_s"] = median(t["_pass_s"] for t in traced) - pass_s
    layers["_rate"] = st.n / pass_s
    return layers, len(prints), failed, props


def crawl_workload(args, spark, session_s: float, sp, work: Path) -> tuple[dict, int, int, dict]:
    import crawl as C

    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        c = C.setup(spark, args.seed, args.scale, work)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    C.cleanup(C.run_crawl(c, max_epochs=1)[3])  # warm-up: codegen, JIT, Python workers
    warm_s = time.perf_counter() - t0

    runs = []
    attempted = failed = 0

    def crawl_and_check():
        nonlocal attempted, failed
        wall, eng, stats, lake = C.run_crawl(c)
        runs.append((wall, stats.fetched, C.epoch_times(lake)))
        attempted += stats.fetched + stats.retried
        failed += C.check(c, eng, stats, lake)  # between crawls, outside their wall time
        C.cleanup(lake)

    timed_loop(args.seconds / 2 if args.trace else args.seconds, crawl_and_check)
    crawl_s = median(w for w, _, _ in runs)
    props = dict(C.props(c), setup_repeats_s=setups, warmup_s=warm_s, crawl_s=[w for w, _, _ in runs],
                 epoch_s=[es for _, _, es in runs])
    if not args.trace:
        metrics = {
            "setup_s": session_s + median(setups) + warm_s,
            "urls_per_s": c.ref_links / crawl_s,
            "crawl_pages_per_s": median(f / w for w, f, _ in runs),
            "epoch_s_p50": median(e for _, _, es in runs for e in es),
        }
        return metrics, attempted, failed, props
    layers, traced_failed, traced_wall = C.traced_crawl(c, sp, args.cores)
    attempted += 1
    failed += traced_failed
    layers.update(C.replay_layers(c, sp))
    layers["trace.overhead_s"] = traced_wall - crawl_s
    return layers, attempted, failed, props


def one_core_rate(args) -> float | None:
    """``urls_per_s`` of the same workload and seed at ``local[1]``, from a
    child run of this script (None if that run failed)."""
    cmd = [
        sys.executable, str(Path(__file__).resolve()), "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", "1", "--trace", "0", "--cores", "1", "--scale", str(args.scale),
    ]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=100, cwd=str(ROOT))
    except subprocess.TimeoutExpired:
        return None
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])["metrics"]["urls_per_s"]["value"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="Spark cores (default: nproc)")
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (the tests use a tiny one)")
    args = ap.parse_args(argv)
    args.cores = args.cores or nproc()

    import probes

    base = ROOT / ".perfbench"
    work = base / f"work-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work)
    sp = probes.Spans()
    try:
        with probes.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(args.cores, work)
            session_s = time.perf_counter() - t0
            info = session_info(spark, args.cores)
            try:
                if args.workload == "crawl_fixpoint":
                    metrics, attempted, failed, props = crawl_workload(args, spark, session_s, sp, work)
                else:
                    metrics, attempted, failed, props = schedule_workload(args, spark, session_s, sp)
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # local[1] rate measured on the schedule pass only: a one-core crawl
        # would not fit the run's time limit, so the crawl reports 0
        rate = metrics.pop("_rate", None)
        one = one_core_rate(args) if rate else None
        metrics["scaling.core_efficiency"] = rate / (args.cores * one) if one else 0.0
        units = PER_LAYER
        # layers a workload does not exercise report 0
        metrics = {k: metrics.get(k, 0.0) for k in units}
        sp.dump(str(base / "traces" / f"{args.workload}-seed{args.seed}.json"), {"metrics": metrics, "inputs": props})
    else:
        metrics["peak_rss_mb"] = rss.peak_mb
        units = END_TO_END
    print(json.dumps({"session": info}))
    print(json.dumps({"inputs": props}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
