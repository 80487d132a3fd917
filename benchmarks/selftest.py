"""Toy-size self-test of the benchmark.

    python3 benchmarks/selftest.py

Runs every workload end to end on tiny inputs (``--scale toy``), once
untraced and once traced, and checks that

* the last stdout line has exactly the result keys, every check passed,
* the untraced run reports every end-to-end metric of BENCHMARK.json and
  the traced run every per-layer metric, each with its declared unit,
* every per-layer metric of a layer the workload runs is non-zero.

Exits 0 when all checks hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics that must be non-zero wherever the parse stage runs
COMMON = (
    "sources.scan.rows", "sources.scan.bytes", "spark.driver_s",
    "operators.parse.stage.task_s", "operators.parse.stage.task_s_max",
    "operators.parse.stage.task_s_median", "operators.parse.stage.jvm_cpu_s",
    "operators.parse.stage.tasks", "operators.parse.python_bytes_sent",
    "operators.parse.python_bytes_received", "operators.parse.rows_out",
    "parser.tokenizer.self_s", "parser.tokenizer.tokens",
    "parser.treebuilder.self_s", "parser.treebuilder.nodes", "parser.extract.s",
    "operators.parse.replay_coverage", "trace.docs_per_s", "trace.overhead_ratio",
)
APPLIES = {
    "extract_small": COMMON + ("sources.scan.task_s", "exchange.shuffle_write_bytes",
                               "operators.parse.utf8_gate_s"),
    "extract_large": COMMON + ("operators.parse.utf8_gate_s",
                               "parser.treebuilder.parse_errors"),
    "crawl_job": COMMON + (
        "sources.scan.task_s", "exchange.shuffle_write_bytes",
        "sources.warc.stage.task_s", "sources.warc.records",
        "sources.warc.inflated_bytes", "sources.warc.walk_s",
        "plans.pipeline.dedup.shuffle_bytes", "plans.pipeline.dedup.kept_ratio",
        "plans.pipeline.sink.task_s", "plans.pipeline.sink.bytes_written",
        "plans.pipeline.sink.files", "parser.encoding.sniff_s", "operators.markdown.s",
    ),
}


def _run(cmd: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)
    return p.returncode, p.stdout


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    rc, out = _run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", "5", "--seconds", "1", "--trace", str(trace),
                    "--scale", "toy"], ROOT)
    where = f"{workload} trace={trace}"
    lines = out.strip().splitlines()
    if not lines:
        return [f"{where}: no output (exit {rc})"]
    result = json.loads(lines[-1])
    errors = []
    if rc != 0 or set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: exit {rc}, keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        errors.append(f"{where}: checks failed: {lines[-2][:2000]}")
    declared = spec["per_layer" if trace else "end_to_end"]
    metrics = result.get("metrics", {})
    if set(metrics) != {m["name"] for m in declared}:
        errors.append(f"{where}: metric names differ: {sorted(set(metrics) ^ {m['name'] for m in declared})}")
    for m in declared:
        got = metrics.get(m["name"])
        if got is None:
            continue
        if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            errors.append(f"{where}: {m['name']} = {got}")
        elif (not trace or m["name"] in APPLIES[workload]) and not got["value"] > 0:
            errors.append(f"{where}: {m['name']} is {got['value']}, expected > 0")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            found = check_run(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            errors += found
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
