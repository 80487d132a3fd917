"""Repo benchmark: one workload, one seed, one run.

    python3 benchmarks/run.py --workload extract_small --seed 1 --seconds 15 --trace 0

A closed loop with one client: one driver process on ``local[k]``
(k = min(4, cores) - 1) runs the workload's job back to back for
``--seconds`` and checks every job's output. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it stamps the run's context. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (Spark event log
plus a driver-side replay of the Python layers). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from procfs import become_subreaper, reap_descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
MIN_JOBS = 3

E2E_UNITS = {
    "docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "setup_s": "s",
    "py_worker_peak_rss_mb": "MB",
    "jobs_ok_share": "share",
}


def _process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _spark_conf(work: str, eventlog: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (the
    gateway JVM exits when its stdin closes; it stops the Python worker
    daemon first)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    """One benchmark run: the workload, its Spark session and timed loop."""

    def __init__(self, args, work: str):
        import workloads

        self.work = work
        # one core stays free for the JVM's own threads (Arrow conversion,
        # shuffle, GC, JIT) and the driver: with a task slot on every core
        # the crawl job ran ~12% slower and its job times spread more
        self.k = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
        self.wl = workloads.WORKLOADS[args.workload](work, args.seed, args.scale)
        self.spark = None
        self.conf: dict = {}

    def start_session(self, eventlog: bool):
        from html5ever_elixir_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.conf = _spark_conf(self.work, eventlog)
        self.spark = get_spark(app_name=f"bench-{self.wl.name}",
                               master=f"local[{self.k}]",
                               shuffle_partitions=2 * self.k, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def warmup(self) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("bench.job", "warmup")
        self.wl.warmup(self.spark)
        sc.setLocalProperty("bench.job", None)

    def timed_loop(self, seconds: float, tag: str) -> list[dict]:
        from procfs import python_worker_hwm_mb, tree_cpu_s

        sc = self.spark.sparkContext
        jobs = []
        end = time.perf_counter() + seconds
        while len(jobs) < MIN_JOBS or time.perf_counter() < end:
            name = f"{tag}-{len(jobs)}"
            job = {"name": name, "error": None, "outcome": None}
            sc.setLocalProperty("bench.job", name)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                handle = self.wl.run_job(self.spark, len(jobs))
            except Exception:  # a failed job is counted, not fatal
                handle = None
                job["error"] = traceback.format_exc(limit=3)
            job["wall_s"] = time.perf_counter() - t0
            job["cpu_s"] = tree_cpu_s() - c0
            sc.setLocalProperty("bench.job", None)
            if handle is not None:
                try:
                    job["outcome"] = self.wl.outcome(self.spark, handle)
                except Exception:
                    job["error"] = traceback.format_exc(limit=3)
            job["py_rss_mb"] = python_worker_hwm_mb()
            jobs.append(job)
        return jobs


def _check(jobs: list[dict], expected: dict) -> int:
    failed = 0
    for job in jobs:
        out = job["outcome"]
        bad = job["error"] is not None or out is None or any(
            out.get(k) != v for k, v in expected.items())
        job["ok"] = not bad
        failed += bad
    return failed


def run(args, work: str, t_start: float) -> tuple[dict, dict]:
    import pyarrow
    import pyspark

    load0 = os.getloadavg()
    r = Run(args, work)
    stats = r.wl.generate()
    context = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)), "master": f"local[{r.k}]",
        "inputs": stats,
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__},
        "git_commit": _git_commit(),
    }
    jobs: list[dict] = []
    metrics: dict = {}
    reconcile = None
    if not args.trace:
        r.start_session(eventlog=False)
        r.warmup()
        setup_s = time.time() - t_start
        jobs = r.timed_loop(args.seconds, "timed")
        expected = r.wl.expected(r.spark)
    else:
        import tracing

        # the first half untraced, the second with the event log on: the
        # ratio of the two throughputs is the tracing overhead
        r.start_session(eventlog=False)
        r.warmup()
        plain = r.timed_loop(args.seconds / 2, "plain")
        r.start_session(eventlog=True)
        r.warmup()
        traced = r.timed_loop(args.seconds / 2, "traced")
        digest, acc = tracing.replay_layers(r.wl, r.wl.replay_docs(r.spark))
        expected = r.wl.expected(r.spark, digest=digest)
    context["java"] = r.spark.sparkContext._jvm.System.getProperty("java.version")
    _stop_spark(r.spark)
    if args.trace:
        metrics, reconcile = tracing.per_layer(r.wl, work, plain, traced, acc)
        context["reconcile"] = reconcile
        jobs = plain + traced

    failed = _check(jobs, expected)
    with open(os.path.join(HERE, "pinned.json")) as f:
        pinned = json.load(f).get(args.workload)
    if args.seed == DEFAULT_SEED and args.scale == "full" and pinned is not None \
            and expected["digest"] != pinned:
        context["pinned_mismatch"] = {"expected": expected["digest"], "pinned": pinned}
    if "pinned_mismatch" in context or (reconcile is not None and not reconcile["ok"]):
        # the reference itself is wrong: no job can count as correct
        failed = len(jobs)
        for job in jobs:
            job["ok"] = False
    docs_in = stats["docs"]
    if not args.trace:
        metrics = {
            "docs_per_s": statistics.median(docs_in / j["wall_s"] for j in jobs),
            "cpu_s_per_kdoc": statistics.median(1000 * j["cpu_s"] / docs_in for j in jobs),
            "setup_s": setup_s,
            "py_worker_peak_rss_mb": max(j["py_rss_mb"] for j in jobs),
            "jobs_ok_share": (len(jobs) - failed) / len(jobs),
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    context.update({
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "spark_conf": r.conf, "expected": expected,
        "jobs": [{k: j.get(k) for k in ("name", "wall_s", "cpu_s", "py_rss_mb", "ok", "error")}
                 for j in jobs],
        "samples": len(jobs),
    })
    result = {"correct": failed == 0, "attempted": len(jobs), "failed": failed,
              "metrics": metrics}
    return context, result


def main(argv=None) -> int:
    t_start = _process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_small", "extract_large", "crawl_job"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs, for the self-test only")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every file the run writes inside the checkout: Python's and
    # PySpark's temp files, Spark's scratch space, worker imports
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    become_subreaper()
    finished = False
    try:
        context, result = run(args, work, t_start)
        finished = True
    finally:
        # report only once every process the run started has ended; after
        # a failure the session was not stopped, so end it at once
        reap_descendants(grace_s=30 if finished else 0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
