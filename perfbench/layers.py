"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded by the benchmark around its calls into each layer
and kept in memory until the run ends. Everything else comes from
Spark's own reporting, read once after the timed passes:

- the UI REST API (``/jobs``, ``/stages``, ``/sql?details=true`` and
  per-stage task summaries), with jobs attributed to a layer by the job
  group the benchmark sets before each call (``plans:...`` around a
  plan builder, ``exec:...`` around its execution; a streaming query's
  jobs carry its ``runId`` as their group);
- ``StreamingQuery.recentProgress`` for per-trigger durations and state;
- a count of py4j round trips, made by wrapping the gateway client's
  ``send_command``.
"""

from __future__ import annotations

import calendar
import json
import re
import statistics
import time
import urllib.request

PLANS_GROUP = "plans:"
EXEC_GROUP = "exec:"


class Tracer:
    """In-memory spans: ``{id, parent, name, kind, start, end, attrs}``
    with epoch-second start/end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.py4j: Py4jCounter | None = None

    def calls(self) -> int:
        return self.py4j.calls if self.py4j else 0

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "parent": parent, "name": name,
            "kind": kind, "start": start, "end": end, "attrs": attrs,
        })
        return len(self.spans) - 1


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Py4jCounter:
    """Counts py4j commands sent from Python to the JVM."""

    def __init__(self, spark) -> None:
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counting


# --------------------------------------------------------------------------
# Spark UI REST


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    with opener.open(url, timeout=60) as resp:
        return json.load(resp)


def epoch(stamp: str | None) -> float | None:
    """UI REST time ("2026-10-16T18:18:27.507GMT") or streaming progress
    time ("2026-10-16T18:18:27.507Z") → epoch seconds."""
    if not stamp:
        return None
    base, _, frac = stamp.removesuffix("GMT").removesuffix("Z").partition(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + float(
        f"0.{frac or 0}"
    )


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1 / 2**20,
    "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)?")


def sql_metric(value: str) -> float:
    """A SQL UI metric string → seconds (times), MB (sizes) or a count.
    Task-aggregated metrics read ``total (min, med, max ...)\\n<total>
    (...)``; driver metrics read ``<value>``."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = _NUM.search(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# SQL node metrics summed into per-layer times: (metric, node name part)
_NODE_TIMES = {
    "exec.scan_s": ("scan time", "Scan"),
    "exec.agg_build_s": ("time in aggregation build", "Aggregate"),
    "exec.sort_s": ("sort time", "Sort"),
    "exec.codegen_s": ("duration", "WholeStageCodegen"),
    "exec.broadcast_build_s": ("time to build", "BroadcastExchange"),
}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, edge = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, edge)
        if hi > lo:
            total += hi - lo
            edge = hi
    return total


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def spark_layers(spark, exec_groups, exec_intervals, n_passes: int) -> dict:
    """Per-pass plans/exec metrics from the UI REST API.

    ``exec_groups(group) -> bool`` selects the jobs of the timed
    execution; jobs whose group starts with ``PLANS_GROUP`` ran while a
    plan builder was running. ``exec_intervals`` are the (start, end)
    epoch intervals of the timed execution calls, for ``exec.idle_s``."""
    jobs = _rest(spark, "jobs")
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in _rest(spark, "stages")
        if s.get("status") != "SKIPPED"
    }
    sqls = _rest(spark, "sql?details=true&planDescription=false&length=1000000")

    def stages_of(js):
        ids = {sid for j in js for sid in j["stageIds"]}
        return [s for (sid, _), s in stages.items() if sid in ids]

    eager = [j for j in jobs if (j.get("jobGroup") or "").startswith(PLANS_GROUP)]
    ex = [j for j in jobs if exec_groups(j.get("jobGroup") or "")]
    ex_ids = {j["jobId"] for j in ex}
    ex_stages = stages_of(ex)
    job_start = {j["jobId"]: epoch(j.get("submissionTime")) for j in jobs}

    def ssum(field: str) -> float:
        return float(sum(s.get(field) or 0 for s in ex_stages))

    out = {
        "plans.eager_jobs": len(eager),
        "plans.eager_job_s": sum(
            (epoch(j.get("completionTime")) or 0) - (epoch(j["submissionTime"]) or 0)
            for j in eager if j.get("completionTime")
        ),
        "exec.jobs": len(ex),
        "exec.stages": len(ex_stages),
        "exec.tasks": ssum("numCompleteTasks"),
        "exec.executor_cpu_s": ssum("executorCpuTime") / 1e9,
        "exec.executor_run_s": ssum("executorRunTime") / 1e3,
        "exec.gc_s": ssum("jvmGcTime") / 1e3,
        "exec.input_mb": ssum("inputBytes") / 2**20,
        "exec.shuffle_read_mb": ssum("shuffleReadBytes") / 2**20,
        "exec.shuffle_write_mb": ssum("shuffleWriteBytes") / 2**20,
        "exec.spill_mb": (ssum("memoryBytesSpilled") + ssum("diskBytesSpilled")) / 2**20,
        "exec.fetch_wait_s": ssum("shuffleFetchWaitTime") / 1e3,
    }

    # stage-active time inside each timed execution call
    active = [
        (epoch(s.get("submissionTime")), epoch(s.get("completionTime")))
        for s in ex_stages
    ]
    idle = 0.0
    for lo, hi in exec_intervals:
        inside = [(max(a, lo), min(b, hi)) for a, b in active if a and b and b > lo and a < hi]
        idle += (hi - lo) - _union(inside)
    out["exec.idle_s"] = idle

    # SQL executions whose jobs belong to the timed execution
    planning, exchanges, aqe_parts, aqe_empty = 0.0, 0, 0.0, 0.0
    node_times = dict.fromkeys(_NODE_TIMES, 0.0)
    for q in sqls:
        qjobs = set(q.get("successJobIds", [])) | set(q.get("failedJobIds", [])) | set(
            q.get("runningJobIds", [])
        )
        if not qjobs or not qjobs <= ex_ids:
            continue
        first = min(job_start[j] for j in qjobs if job_start.get(j))
        planning += max(0.0, first - epoch(q["submissionTime"]))
        for node in q.get("nodes", []):
            name = node.get("nodeName", "")
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "Exchange" in name and not name.startswith("Reused"):
                exchanges += 1
            if name.startswith("AQEShuffleRead"):
                aqe_parts += sql_metric(metrics.get("number of partitions", "0"))
                aqe_empty += sql_metric(metrics.get("number of empty partitions", "0"))
            for key, (metric, part) in _NODE_TIMES.items():
                if part in name and metric in metrics:
                    node_times[key] += sql_metric(metrics[metric])
    out.update({
        "exec.planning_s": planning,
        "exec.exchanges": exchanges,
        "exec.aqe_partitions": aqe_parts,
        "exec.aqe_empty_partitions": aqe_empty,
        **node_times,
    })
    per_pass = {k: v / n_passes for k, v in out.items()}

    # max/median shuffle bytes read per task, median over shuffle-reading stages
    skew = []
    for s in ex_stages:
        if (s.get("shuffleReadBytes") or 0) > 0:
            summ = _rest(
                spark,
                f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0",
            )
            med, top = summ["shuffleReadMetrics"]["readBytes"]
            skew.append(top / med if med > 0 else 1.0)
    per_pass["exec.partition_skew"] = _median(skew)
    return per_pass


# --------------------------------------------------------------------------
# Structured Streaming progress

STREAMING_ZERO = {
    "streaming.triggers": 0,
    "streaming.latest_offset_ms": 0.0,
    "streaming.query_planning_ms": 0.0,
    "streaming.wal_commit_ms": 0.0,
    "streaming.commit_offsets_ms": 0.0,
    "streaming.add_batch_ms": 0.0,
    "streaming.sink_ms": 0.0,
    "streaming.tasks_per_trigger": 0.0,
    "streaming.state_rows": 0,
    "streaming.state_rows_updated": 0.0,
    "streaming.state_rows_removed": 0.0,
    "streaming.state_mem_mb": 0.0,
    "streaming.state_commit_ms": 0.0,
    "streaming.state_partitions": 0,
}


def streaming_layers(progress: list[dict], sink_ms: list[float], tasks: float,
                     n_passes: int) -> dict:
    """Per-trigger medians over every trigger of the timed passes."""

    def dur(key: str) -> float:
        return _median([p["durationMs"][key] for p in progress if key in p["durationMs"]])

    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]

    def st(key: str) -> list[float]:
        return [s.get(key) or 0 for s in state]

    return {
        "streaming.triggers": len(progress) / n_passes,
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.sink_ms": _median(sink_ms),
        "streaming.tasks_per_trigger": tasks / max(1, len(progress)),
        "streaming.state_rows": max(st("numRowsTotal"), default=0),
        "streaming.state_rows_updated": _median(st("numRowsUpdated")),
        "streaming.state_rows_removed": _median(st("numRowsRemoved")),
        "streaming.state_mem_mb": max(st("memoryUsedBytes"), default=0) / 2**20,
        "streaming.state_commit_ms": _median(st("commitTimeMs")),
        "streaming.state_partitions": max(st("numStateStoreInstances"), default=0),
    }
