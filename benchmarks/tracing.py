"""Per-layer metrics of the traced run.

Spark side: the run's event log (enabled for the traced session only).
Each timed job sets the local property ``bench.job``; Spark copies it
into every job it starts, so stages, tasks and SQL executions can be
attributed to one benchmark job. A stage is assigned to one layer by
the plan operators its metrics belong to:

    parse   a MapInArrow whose output has ``n_parse_errors``
    warc    a MapInArrow whose output has ``http_status``
    dedup   a Window (the latest-capture dedup)
    scan    a file scan of the workload's input directory
    sink    a file write, or a scan of the job's own output
    other   anything else (e.g. parquet schema reads)

Python side: ``replay.traced`` over the job's own input documents.
Every Spark-side value is the median over the traced jobs of that
job's value; every Python-side value covers one job's documents.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import zlib
from collections import defaultdict

import replay

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"

# name -> unit, in report order
UNITS = {
    "sources.scan.task_s": "s",
    "sources.scan.rows": "count",
    "sources.scan.bytes": "B",
    "exchange.shuffle_write_bytes": "B",
    "exchange.fetch_wait_s": "s",
    "spark.driver_s": "s",
    "spark.tasks_failed": "count",
    "operators.parse.stage.task_s": "s",
    "operators.parse.stage.task_s_max": "s",
    "operators.parse.stage.task_s_median": "s",
    "operators.parse.stage.jvm_cpu_s": "s",
    "operators.parse.stage.gc_s": "s",
    "operators.parse.stage.tasks": "count",
    "operators.parse.python_bytes_sent": "B",
    "operators.parse.python_bytes_received": "B",
    "operators.parse.rows_out": "count",
    "sources.warc.stage.task_s": "s",
    "sources.warc.records": "count",
    "sources.warc.inflated_bytes": "B",
    "sources.warc.walk_s": "s",
    "plans.pipeline.dedup.shuffle_bytes": "B",
    "plans.pipeline.dedup.kept_ratio": "ratio",
    "plans.pipeline.sink.task_s": "s",
    "plans.pipeline.sink.bytes_written": "B",
    "plans.pipeline.sink.files": "count",
    "operators.parse.utf8_gate_s": "s",
    "parser.encoding.sniff_s": "s",
    "gate.error_rows": "count",
    "parser.tokenizer.self_s": "s",
    "parser.tokenizer.tokens": "count",
    "parser.tokenizer.parse_errors": "count",
    "parser.treebuilder.self_s": "s",
    "parser.treebuilder.nodes": "count",
    "parser.treebuilder.parse_errors": "count",
    "parser.treebuilder.budget_exceeded": "count",
    "parser.extract.s": "s",
    "operators.markdown.s": "s",
    "operators.parse.unattributed_s": "s",
    "operators.parse.replay_coverage": "ratio",
    "trace.docs_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}


SPARK_PREFIXES = ("sources.scan", "exchange", "spark.", "operators.parse.stage",
                  "operators.parse.python", "operators.parse.rows_out",
                  "sources.warc.stage", "sources.warc.records", "plans.pipeline")


def load_events(eventlog_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_metrics(node: dict, meta: dict) -> None:
    """accumulator id -> (operator, its description, source location,
    metric name), over a plan tree (iterative)."""
    todo = [node]
    while todo:
        n = todo.pop()
        where = (n.get("metadata") or {}).get("Location", "")
        for m in n.get("metrics", ()):
            meta[m["accumulatorId"]] = (n["nodeName"], n["simpleString"], where, m["name"])
        todo.extend(n.get("children", ()))


def _layer(ops: list[tuple], source_dir: str) -> str:
    names = {op[0] for op in ops}
    python = " ".join(op[1] for op in ops if op[0] == "MapInArrow")
    if "n_parse_errors" in python:
        return "parse"
    if "http_status" in python:
        return "warc"
    if "Window" in names:
        return "dedup"
    scans = [op[2] for op in ops if op[0].startswith("Scan") and op[2]]
    if any(source_dir in where for where in scans):
        return "scan"
    if WRITE_NODE in names or scans:
        return "sink"
    return "other"


def _span_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def spark_layers(events: list[dict], source_dir: str) -> dict[str, dict]:
    """Per benchmark job: the Spark-side layer values."""
    meta: dict = {}
    stage_tag: dict = {}
    exec_tag: dict = {}
    stages: dict = {}
    tasks = defaultdict(list)
    driver_acc = defaultdict(int)  # (execution id, accumulator id) -> value
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _plan_metrics(e["sparkPlanInfo"], meta)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get("bench.job")
            if tag:
                for sid in e["Stage IDs"]:
                    stage_tag.setdefault(sid, tag)
                if props.get("spark.sql.execution.id") is not None:
                    exec_tag[int(props["spark.sql.execution.id"])] = tag
        elif kind == "SparkListenerStageCompleted":
            stages[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                driver_acc[(e["executionId"], acc_id)] += value

    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    parse_task_s: dict[str, list] = defaultdict(list)
    spans: dict[str, list] = defaultdict(list)
    for sid, info in stages.items():
        tag = stage_tag.get(sid)
        if tag is None or not tasks[sid]:
            continue
        ops = [meta[a["ID"]] for a in info["Accumulables"] if a["ID"] in meta]
        layer = _layer(ops, source_dir)
        m = out[tag]
        spans[tag].append((info["Submission Time"], info["Completion Time"]))
        for t in tasks[sid]:
            tm = t.get("Task Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000
            m["spark.tasks_failed"] += (t["Task Info"]["Failed"]
                                        or t["Task End Reason"]["Reason"] != "Success")
            m["exchange.shuffle_write_bytes"] += tm.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m["exchange.fetch_wait_s"] += tm.get(
                "Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1000
            m["plans.pipeline.sink.bytes_written"] += tm.get(
                "Output Metrics", {}).get("Bytes Written", 0)
            if layer == "parse":
                parse_task_s[tag].append(run_s)
                m["operators.parse.stage.jvm_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["operators.parse.stage.gc_s"] += tm.get("JVM GC Time", 0) / 1000
            elif layer == "warc":
                m["sources.warc.stage.task_s"] += run_s
            elif layer == "scan":
                m["sources.scan.task_s"] += run_s
            elif layer == "sink":
                m["plans.pipeline.sink.task_s"] += run_s
            for a in t["Task Info"].get("Accumulables", ()):
                op = meta.get(a["ID"])
                if op is None or not isinstance(a.get("Update"), (int, str)):
                    continue
                value = int(a["Update"])
                node, desc, where, metric = op
                if node == "MapInArrow" and "n_parse_errors" in desc:
                    if metric == "data sent to Python workers":
                        m["operators.parse.python_bytes_sent"] += value
                    elif metric == "data returned from Python workers":
                        m["operators.parse.python_bytes_received"] += value
                    elif metric == "number of output rows":
                        m["operators.parse.rows_out"] += value
                elif node == "MapInArrow" and "http_status" in desc:
                    if metric == "number of output rows":
                        m["sources.warc.records"] += value
                elif node.startswith("Scan") and source_dir in where:
                    if metric == "number of output rows":
                        m["sources.scan.rows"] += value
                elif node == "Exchange" and "hashpartitioning(url#" in desc:
                    if metric == "shuffle bytes written":
                        m["plans.pipeline.dedup.shuffle_bytes"] += value
    for (exec_id, acc_id), value in driver_acc.items():
        tag = exec_tag.get(exec_id)
        op = meta.get(acc_id)
        if tag is None or op is None:
            continue
        node, _, where, metric = op
        if node.startswith("Scan") and source_dir in where and metric == "size of files read":
            out[tag]["sources.scan.bytes"] += value
        elif node == WRITE_NODE and metric == "number of written files":
            out[tag]["plans.pipeline.sink.files"] += value
    for tag, m in out.items():
        ts = parse_task_s[tag]
        m["operators.parse.stage.task_s"] = sum(ts)
        m["operators.parse.stage.task_s_max"] = max(ts, default=0.0)
        m["operators.parse.stage.task_s_median"] = statistics.median(ts) if ts else 0.0
        m["operators.parse.stage.tasks"] = len(ts)
        m["stage_span_s"] = _span_ms(spans[tag]) / 1000
    return out


def inflated_bytes(paths: list[str]) -> int:
    """Bytes the WARC walk inflates: the sum over gzip members."""
    total = 0
    for path in paths:
        with open(path, "rb") as f:
            data = f.read()
        while data:
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            total += len(d.decompress(data))
            data = d.unused_data
    return total


def replay_layers(wl, docs: list) -> tuple[int, dict]:
    """Python-side layers over one job's documents, in this process:
    (output digest, per-layer times and counts)."""
    digest, acc = replay.traced(docs, wl.encoding, wl.markdown)
    warc_paths = sorted(glob.glob(os.path.join(wl.source_dir(), "*.warc*")))
    if warc_paths:
        from html5ever_elixir_spark.sources.warc import parse_warc_records

        for path in warc_paths:
            with open(path, "rb") as f:
                blob = f.read()
            t0 = time.perf_counter()
            for _ in parse_warc_records(blob):
                pass
            acc["walk_s"] += time.perf_counter() - t0
        acc["inflated_bytes"] = inflated_bytes(warc_paths)
    return digest, acc


def per_layer(wl, work: str, plain: list[dict], traced: list[dict],
              acc: dict) -> tuple[dict, dict]:
    """(per-layer metrics with units, the reconciliation record)."""
    by_job = spark_layers(load_events(os.path.join(work, "eventlog")), wl.source_dir())
    spark_keys = [k for k in UNITS if k.startswith(SPARK_PREFIXES)]
    per_job = []
    for job in traced:
        m = by_job.get(job["name"], {})
        row = {k: float(m.get(k, 0.0)) for k in spark_keys}
        row["spark.driver_s"] = max(0.0, job["wall_s"] - m.get("stage_span_s", 0.0))
        per_job.append(row)
    metrics = {k: statistics.median(r[k] for r in per_job) for k in spark_keys}

    python_s = sum(acc[k] for k in replay.LAYERS)
    stage_s = metrics["operators.parse.stage.task_s"]
    docs_in = wl.stats["docs"]
    plain_rate = statistics.median(docs_in / j["wall_s"] for j in plain)
    traced_rate = statistics.median(docs_in / j["wall_s"] for j in traced)
    records = metrics["sources.warc.records"]
    metrics.update({
        "sources.warc.inflated_bytes": acc["inflated_bytes"],
        "sources.warc.walk_s": acc["walk_s"],
        "plans.pipeline.dedup.kept_ratio": acc["rows"] / records if records else 0.0,
        "operators.parse.utf8_gate_s": acc["gate_s"],
        "parser.encoding.sniff_s": acc["sniff_s"],
        "gate.error_rows": acc["error_rows"] - acc["budget_exceeded"],
        "parser.tokenizer.self_s": acc["tokenizer_s"],
        "parser.tokenizer.tokens": acc["tokens"],
        "parser.tokenizer.parse_errors": acc["tokenizer_parse_errors"],
        "parser.treebuilder.self_s": acc["treebuilder_s"],
        "parser.treebuilder.nodes": acc["nodes"],
        "parser.treebuilder.parse_errors": acc["treebuilder_parse_errors"],
        "parser.treebuilder.budget_exceeded": acc["budget_exceeded"],
        "parser.extract.s": acc["extract_s"],
        "operators.markdown.s": acc["markdown_s"],
        "operators.parse.unattributed_s": stage_s - python_s,
        "operators.parse.replay_coverage": python_s / stage_s if stage_s else 0.0,
        "trace.docs_per_s": traced_rate,
        "trace.overhead_ratio": plain_rate / traced_rate,
    })
    # docs into the parse stage = its rows out (every job) = ok + error rows
    rows_out = [r["operators.parse.rows_out"] for r in per_job]
    reconcile = {
        "docs_in": acc["rows"],
        "rows_out_per_job": rows_out,
        "ok_rows": acc["docs"],
        "error_rows": acc["error_rows"],
        "parse_stage_coverage": metrics["operators.parse.replay_coverage"],
    }
    reconcile["ok"] = (all(r == acc["rows"] for r in rows_out)
                       and acc["docs"] + acc["error_rows"] == acc["rows"])
    result = {k: {"value": float(metrics[k]), "unit": u} for k, u in UNITS.items()}
    return result, reconcile
