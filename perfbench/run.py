"""Seeded benchmark of the flink_wikipedia_spark engine.

    python3 perfbench/run.py --workload suite-sf0.01 --seed 7 --seconds 10 --trace 0

Run from the repository root. One invocation generates (or reuses) the
seeded inputs, sets the engine up once (session start + warm-up), runs
as many passes of the workload as its nominal pass time fits in
``--seconds`` (at least its minimum number of passes) in one process
on ``local[<half the cpus>]``, checks the outputs, stops every process
it started and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, measured with the
Spark UI off; with ``--trace 1`` they are the per-layer ones, measured
with the UI on. The full record of the run (manifest, set-up, passes,
host load, and for traced runs every span) goes to ``--artifact``,
by default under ``.scratch/perfbench/results/``.

See perfbench/README.md for the layers, metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ("flink_wikipedia_spark/session.py", "tools/gen_sf.py", "bench.py",
           "__spark_entry__.py")

# Printed with --trace 0. An operation is one query (build + execute)
# or one streaming trigger. The run record also keeps peak_rss_mb,
# op_p50_ms, op_p90_ms, records_per_s, cpu_total_s and jit_cpu_s; see
# README.md for why they are not printed.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "op_ms": "ms",
    "heap_live_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_share": "ratio",
    "plans.py4j_calls": "count",
    "plans.eager_jobs": "count",
    "plans.eager_job_s": "s",
    "exec.s": "s",
    "exec.planning_s": "s",
    "exec.idle_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.aqe_partitions": "count",
    "exec.aqe_empty_partitions": "count",
    "exec.executor_cpu_s": "s",
    "exec.executor_run_s": "s",
    "exec.gc_s": "s",
    "exec.python_cpu_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.exchanges": "count",
    "exec.partition_skew": "ratio",
    "exec.scan_s": "s",
    "exec.agg_build_s": "s",
    "exec.sort_s": "s",
    "exec.codegen_s": "s",
    "exec.broadcast_build_s": "s",
    "exec.fetch_wait_s": "s",
    "streaming.triggers": "count",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.sink_ms": "ms",
    "streaming.tasks_per_trigger": "count",
    "streaming.state_rows": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_rows_removed": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "streaming.state_partitions": "count",
}


def _use_half_the_cpus() -> int:
    """Pins this process, and so the JVM and the PySpark workers it
    starts, to the first half of the CPUs it may use, and returns their
    number, which is also the number of Spark task slots. On a shared
    4-CPU VM, runs on all four CPUs lost up to a quarter of them to
    hypervisor steal, and every stolen slice on any CPU stalled a whole
    stage; runs pinned to two lost almost none."""
    cpus = sorted(os.sched_getaffinity(0))
    cpus = cpus[: max(1, len(cpus) // 2)]
    os.sched_setaffinity(0, cpus)
    return len(cpus)


def _environment(trace: bool) -> None:
    """Process environment for the engine, set before pyspark starts the
    JVM: every file Spark, the JVM or Python write goes under the
    checkout, PySpark workers can import the package, and no
    SPARK_GRAFT_* override from the caller changes what is measured:
    the engine runs with its own defaults on half the CPUs."""
    from perfbench.inputs import WORK

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_use_half_the_cpus()),
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                            "-XX:-UseDynamicNumberOfCompilerThreads",
    })


def _quantile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def _settle(spark, quiet_s: float = 1.0, limit_s: float = 15.0) -> float:
    """Waits until the JIT has compiled what warm-up queued (its total
    compilation time grows by under 10 ms a poll for ``quiet_s``), so
    that the timed window starts from the same JIT state in every run
    rather than from wherever a slow or fast warm-up left the compile
    queue. Returns the seconds waited."""
    jvm = spark.sparkContext._jvm
    comp = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last, still_since = comp.getTotalCompilationTime(), t0
    while time.perf_counter() - t0 < limit_s:
        time.sleep(0.25)
        now = comp.getTotalCompilationTime()
        if now - last >= 10:
            still_since = time.perf_counter()
        last = now
        if time.perf_counter() - still_since >= quiet_s:
            break
    return time.perf_counter() - t0


def _typical_op_ms(passes: list[dict]) -> float:
    """Geometric mean, over the workload's distinct operations, of each
    one's median latency across the timed passes. For the stream every
    trigger is the same operation, so this is the median trigger time.
    Unlike a median pooled over different queries, it does not jump
    from one query to another when two of them swap places."""
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for name, ms in zip(p["op_names"], p["op_ms"]):
            by_name.setdefault(name, []).append(ms)
    if not by_name:
        return 0.0
    return statistics.geometric_mean(statistics.median(v) for v in by_name.values())


def n_passes(wl, seconds: float) -> int:
    """Timed passes in a run: as many of the workload's nominal pass
    time as fit in ``seconds``, and at least its minimum. The count is
    fixed rather than read off a clock, so that every run takes its
    medians at the same passes of the JVM's warm-up curve."""
    return max(wl.min_passes, round(seconds / wl.pass_s))


def _live_heap_mb(spark) -> float:
    """JVM heap in use right after a full GC: what the engine retains."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    from perfbench import procfs

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(procfs.tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def run(args) -> dict:
    from perfbench import procfs
    from perfbench.layers import (
        EXEC_GROUP, STREAMING_ZERO, Py4jCounter, Tracer, spark_layers,
        streaming_layers,
    )
    from perfbench.workloads import WORKLOADS

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed)
    inputs_s = time.perf_counter() - t

    # One set-up per process, timed from process start: imports, the
    # JVM launch in get_spark, then the workload's warm-up and the
    # settle, so timed passes start warm. Input generation is left out.
    from bench import _steal_ticks
    from flink_wikipedia_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = procfs.age_s() - inputs_s
    t = time.perf_counter()
    wl.warmup(spark)
    settle_s = _settle(spark)
    warmup_s = time.perf_counter() - t

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.py4j = Py4jCounter(spark)
    jvm = procfs.jvm_pid()
    host_before = {"load_avg": os.getloadavg(), "steal_ticks": _steal_ticks()}
    rss = procfs.RssSampler().start()
    passes, errors = [], []
    setup_s = procfs.age_s() - inputs_s
    t_window = time.perf_counter()
    for i in range(n_passes(wl, args.seconds)):
        c0, p0 = procfs.tree_cpu_s(), procfs.python_worker_cpu_s(jvm)
        j0, s0 = procfs.jit_cpu_s(jvm), _steal_ticks()
        w0 = time.time()
        pid = tracer.add("pass", "pass", w0, w0) if tracer else None
        r = wl.run_pass(spark, tracer, pid, tag=str(i))
        if tracer:
            tracer.spans[pid]["end"] = w0 + r.wall_s
        cpu_total = procfs.tree_cpu_s() - c0
        jit = procfs.jit_cpu_s(jvm) - j0
        passes.append({
            "wall_s": r.wall_s, "cpu_s": cpu_total - jit,
            "cpu_total_s": cpu_total, "jit_cpu_s": jit,
            "python_cpu_s": procfs.python_worker_cpu_s(jvm) - p0,
            "steal_ticks": _steal_ticks() - s0,
            "ops": len(r.op_ms), "records": r.records,
            "attempted": r.attempted, "failed": r.failed,
            "op_ms": r.op_ms, "op_names": r.op_names,
        })
        errors += r.errors
    window_s = time.perf_counter() - t_window
    peak_rss_mb = rss.stop()
    heap_live_mb = _live_heap_mb(spark)
    host_after = {"load_avg": os.getloadavg(), "steal_ticks": _steal_ticks()}

    ops = [ms for p in passes for ms in p["op_ms"]]
    n = len(passes)
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "cpu_total_s": statistics.median(p["cpu_total_s"] for p in passes),
        "jit_cpu_s": statistics.median(p["jit_cpu_s"] for p in passes),
        "peak_rss_mb": peak_rss_mb,
        "op_ms": _typical_op_ms(passes),
        "op_p50_ms": statistics.median(ops) if ops else 0.0,
        "op_p90_ms": _quantile(ops, 0.9) if len(ops) > 1 else 0.0,
        "records_per_s": statistics.median(p["records"] / p["wall_s"] for p in passes),
        "heap_live_mb": heap_live_mb,
    }

    layers = None
    if tracer:
        plans = [s for s in tracer.spans if s["kind"] == "plans"]
        execs = [s for s in tracer.spans if s["kind"] == "exec"]
        build = sum(s["end"] - s["start"] for s in plans) / n
        exec_s = sum(s["end"] - s["start"] for s in execs) / n
        stream = hasattr(wl, "run_ids")
        layers = {
            "session.start_s": session_s,
            "session.warmup_s": warmup_s,
            "plans.build_s": build,
            "plans.build_share": build / (build + exec_s),
            "plans.py4j_calls": sum(s["attrs"]["py4j_calls"] for s in plans) / n,
            "exec.s": exec_s,
            "exec.python_cpu_s": statistics.fmean(p["python_cpu_s"] for p in passes),
            **spark_layers(
                spark,
                (lambda g: g in wl.run_ids) if stream
                else (lambda g: g.startswith(EXEC_GROUP)),
                [(s["start"], s["end"]) for s in execs],
                n,
            ),
        }
        layers.update(
            streaming_layers(wl.progress, wl.sink_ms(tracer), layers["exec.tasks"] * n, n)
            if stream else STREAMING_ZERO
        )

    checked, check_failed, check_errors = wl.check(spark)
    errors += check_errors
    _shutdown(spark)
    if hasattr(wl, "cleanup"):
        wl.cleanup()

    attempted = sum(p["attempted"] for p in passes) + checked
    failed = sum(p["failed"] for p in passes) + check_failed
    chosen, units = (layers, PER_LAYER) if tracer else (end_to_end, END_TO_END)
    result = {
        "correct": failed == 0 and checked > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(chosen[k]), "unit": u} for k, u in units.items()},
    }
    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": len(os.sched_getaffinity(0)),
        "manifest": wl.manifest, "inputs_s": inputs_s,
        "setup": {"session_s": session_s, "warmup_s": warmup_s, "settle_s": settle_s},
        "window_s": window_s, "passes": passes, "ops": len(ops),
        "peak_rss_by_process_mb": rss.peak_by,
        "failed_frac": failed / attempted,
        "host_before": host_before, "host_after": host_after,
        "errors": errors, "end_to_end": end_to_end, "per_layer": layers,
        "result": result,
    }
    if tracer:
        artifact["spans"] = tracer.spans
    path = args.artifact or os.path.join(
        ROOT, ".scratch", "perfbench", "results",
        f"{wl.name}-seed{args.seed}-trace{args.trace}.json",
    )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="where to write the full run record")
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    # import the benchmark as the package `perfbench` from the checkout root
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    _environment(bool(args.trace))
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
