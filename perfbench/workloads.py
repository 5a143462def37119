"""The benchmark's workloads: inputs, warm-up, one timed pass, output check.

A *pass* is the unit the timed window repeats: the batch workload's
query list once, or the stream workload's input replayed once, as one
query from an empty checkpoint. An *operation* is one query (plan
build + execution) or one streaming trigger. A query's first trigger
carries its start-up (first planning, state-store creation), so it
counts in the pass's wall time but not in the trigger percentiles.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.layers import EXEC_GROUP, PLANS_GROUP, epoch


@dataclass
class PassResult:
    wall_s: float = 0.0
    op_ms: list[float] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)  # one per op_ms entry
    records: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


class SuiteWorkload:
    """Registered batch queries at a small scale factor, run in a fixed
    order: per-query fixed costs (plan build, eager builder jobs, Spark's
    per-job/per-stage floor) dominate the tens of milliseconds of real
    work each does."""

    name = "suite-sf0.01"
    sf = 0.01
    # Fixed, so that registry growth does not change the benchmark: the
    # flagship in batch, a pandas UDF on Python workers
    # (q_multimodal_decode), TPC-H Q9's six-table join, and a builder
    # that runs Spark jobs eagerly (q_dedup_components). Few queries,
    # so that warm-up can run each of them often: a JVM's speed on a
    # query settles only after many runs of it, and until it has, runs
    # differ by a fifth.
    queries = (
        "q_windowed_edit_size",
        "q_multimodal_decode",
        "q_tpch_q9_nation_year_profit",
        "q_dedup_components",
    )

    min_passes = 3  # wall_s is the median pass
    pass_s = 3.0  # nominal pass time on 2 CPUs; sets the timed pass count
    warm_passes = 4

    def __init__(self, seed: int) -> None:
        self.dir, self.manifest = inputs.tables(self.sf, seed)
        self.rows: dict[str, int] = {}  # query -> input rows it reads
        self.results: dict = {}  # query -> warm-up result (or its error)

    def warmup(self, spark) -> None:
        """Runs every query once, keeping its result for ``check``, then
        ``warm_passes`` untimed passes: on a fresh JVM each of the first
        few passes still runs faster than the one before."""
        from flink_wikipedia_spark.plans import REGISTRY
        from flink_wikipedia_spark.plans.registry import release_caches

        for q in self.queries:
            try:
                df = REGISTRY[q].fn(spark, self.dir)
                self.rows[q] = self._input_rows(df)
                self.results[q] = df.toPandas()
            except Exception as e:  # noqa: BLE001 — reported by check
                self.results[q] = e
            release_caches()
        for _ in range(self.warm_passes):
            self.run_pass(spark)

    def _input_rows(self, df) -> int:
        counts = {**self.manifest["rows"], "nation": 25, "region": 5}
        return sum(
            counts.get(os.path.basename(f.rstrip("/")).removesuffix(".parquet"), 0)
            for f in df.inputFiles()
        )

    def run_pass(self, spark, tracer=None, parent=None, tag: str = "") -> PassResult:
        from flink_wikipedia_spark.plans import REGISTRY
        from flink_wikipedia_spark.plans.registry import release_caches

        sc = spark.sparkContext
        res = PassResult()
        t_pass = time.perf_counter()
        for q in self.queries:
            res.attempted += 1
            t0 = time.perf_counter()
            w0 = time.time()
            try:
                if tracer:
                    sc.setJobGroup(f"{PLANS_GROUP}{tag}:{q}", q)
                    n0 = tracer.calls()
                df = REGISTRY[q].fn(spark, self.dir)
                t1 = time.perf_counter()
                if tracer:
                    calls = tracer.calls() - n0
                    sc.setJobGroup(f"{EXEC_GROUP}{tag}:{q}", q)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                res.failed += 1
                res.errors.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
                release_caches()
                continue
            res.op_ms.append((t2 - t0) * 1e3)
            res.op_names.append(q)
            if tracer:
                sc.setJobGroup("bench", "bench")
                qs = tracer.add(q, "query", w0, w0 + (t2 - t0), parent)
                tracer.add("plans", "plans", w0, w0 + (t1 - t0), qs, py4j_calls=calls)
                tracer.add("exec", "exec", w0 + (t1 - t0), w0 + (t2 - t0), qs)
            res.records += self.rows.get(q, 0)
            release_caches()
        res.wall_s = time.perf_counter() - t_pass
        return res

    def check(self, spark) -> tuple[int, int, list[str]]:
        """Every query's warm-up result against its DuckDB oracle on the
        same files (column names, row count, timestamp kinds, normalized
        values)."""
        import duckdb

        import __spark_entry__
        from flink_wikipedia_spark.schemas import ALL_TABLES
        from tools.verify_local import normalize, tz_kind

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.sql("SET threads=2")
        for t in ALL_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        failed, errors = 0, []
        for q in self.queries:
            got = self.results.get(q)
            try:
                if isinstance(got, Exception) or got is None:
                    raise RuntimeError(f"warm-up run failed: {got!r}"[:300])
                want = con.sql(oracles[q]).df()
                problem = None
                if sorted(got.columns) != sorted(want.columns):
                    problem = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
                elif len(got) != len(want):
                    problem = f"rows {len(got)} != {len(want)}"
                elif any(tz_kind(got[c]) != tz_kind(want[c]) for c in got.columns):
                    problem = "timestamp time-zone kinds differ"
                elif not normalize(got).equals(normalize(want)):
                    problem = "values differ"
            except Exception as e:  # noqa: BLE001
                problem = f"{type(e).__name__}: {str(e)[:300]}"
            if problem:
                failed += 1
                errors.append(f"check {q}: {problem}")
        con.close()
        return len(self.queries), failed, errors


class TimedSink:
    """Wraps the sink passed into the stream and times each call."""

    def __init__(self, inner) -> None:
        self.inner = inner
        self.calls: list[tuple[int, float, float]] = []  # (epoch id, start, end)

    def __call__(self, batch_df, epoch_id: int) -> None:
        t0 = time.time()
        self.inner(batch_df, epoch_id)
        self.calls.append((epoch_id, t0, time.time()))


class FlagshipStreamWorkload:
    """The paper's job as a stream: ``build_flagship_stream`` with the
    program's ``ParquetSink``, replaying rendered edit events with one
    file per trigger from an empty checkpoint."""

    name = "stream-flagship"
    sf = 0.01  # 10 K generated events: 5 data triggers per pass
    per_file = 2000  # 100 s of event time per trigger
    min_passes = 2
    pass_s = 6.5  # nominal pass time on 2 CPUs; sets the timed pass count
    warm_passes = 1
    timeout_s = 150

    def __init__(self, seed: int) -> None:
        base, self.manifest = inputs.edit_stream(self.sf, seed, self.per_file)
        self.src = os.path.join(base, "events")
        self.work = os.path.join(inputs.WORK, "runs", str(os.getpid()))
        self.n_runs = 0
        self.last = None  # (output dir, progress) of the latest pass
        self.progress: list[dict] = []  # every trigger of the traced passes
        self.run_ids: set[str] = set()

    def run_pass(self, spark, tracer=None, parent=None, tag: str = "") -> PassResult:
        from flink_wikipedia_spark.streaming.pipeline import build_flagship_stream
        from flink_wikipedia_spark.streaming.sinks import ParquetSink
        from flink_wikipedia_spark.streaming.sources import file_source

        src = self.src
        self.n_runs += 1
        run = os.path.join(self.work, f"pass{self.n_runs}")
        shutil.rmtree(run, ignore_errors=True)
        out, ck = os.path.join(run, "out"), os.path.join(run, "ck")
        sink = TimedSink(ParquetSink(out))
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        res = PassResult(attempted=1)
        sc = spark.sparkContext
        t0 = time.perf_counter()
        w0 = time.time()
        if tracer:
            sc.setJobGroup(f"{PLANS_GROUP}{tag}:stream", "build stream")
            n0 = tracer.calls()
        query = build_flagship_stream(
            spark, file_source(spark, src, max_files_per_trigger=1), sink,
            checkpoint_dir=ck,
        )
        t1 = time.perf_counter()
        if tracer:
            calls = tracer.calls() - n0
            sc.setJobGroup("bench", "bench")
        try:
            done = query.awaitTermination(self.timeout_s)
            if not done:
                query.stop()
                raise TimeoutError(f"stream still running after {self.timeout_s} s")
        except Exception as e:  # noqa: BLE001 — a failed stream is a failed pass
            res.failed += 1
            res.errors.append(f"stream: {type(e).__name__}: {str(e)[:300]}")
        t2 = time.perf_counter()
        progress = [
            p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress
        ]
        res.wall_s = t2 - t0
        res.op_ms = [p["durationMs"]["triggerExecution"] for p in progress if p["batchId"] > 0]
        res.op_names = ["trigger"] * len(res.op_ms)
        res.records = sum(p["numInputRows"] for p in progress)
        res.attempted += len(progress)
        # one file per trigger, every event read once
        files = len(os.listdir(src))
        data = sum(1 for p in progress if p["numInputRows"] > 0)
        if not res.failed and (data != files or res.records != files * self.per_file):
            res.failed += 1
            res.errors.append(
                f"stream: {data} data triggers / {res.records} rows, want "
                f"{files} / {files * self.per_file}"
            )
        self.last = (out, progress)
        if tracer:
            self.run_ids.add(str(query.runId))
            self.progress.extend(progress)
            tracer.add("plans", "plans", w0, w0 + (t1 - t0), parent, py4j_calls=calls)
            ex = tracer.add("exec", "exec", w0 + (t1 - t0), w0 + (t2 - t0), parent)
            trig = {}
            for p in progress:
                start = epoch(p["timestamp"])
                d = p["durationMs"]
                trig[p["batchId"]] = tracer.add(
                    f"trigger {p['batchId']}", "trigger", start,
                    start + d["triggerExecution"] / 1e3, ex,
                    durationMs=d, numInputRows=p["numInputRows"],
                )
            for batch_id, s0, s1 in sink.calls:
                tracer.add("sink", "sink", s0, s1, trig.get(batch_id, ex))
        return res

    def warmup(self, spark) -> None:
        """``warm_passes`` untimed passes: the first triggers of a fresh
        JVM run several times slower than later ones."""
        for _ in range(self.warm_passes):
            res = self.run_pass(spark)
            if res.failed:
                raise RuntimeError("; ".join(res.errors))

    def sink_ms(self, tracer) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in tracer.spans if s["kind"] == "sink"]

    def check(self, spark) -> tuple[int, int, list[str]]:
        """The windows the latest pass emitted (all closed by its final
        watermark) equal ``flagship_transform`` run in batch over the
        same events, restricted to windows ending at or before that
        watermark."""
        from pyspark.sql import functions as F

        from flink_wikipedia_spark.operators.core import decode_edit_events
        from flink_wikipedia_spark.streaming.pipeline import flagship_transform
        from tools.verify_local import normalize

        out, progress = self.last
        cols = ["domain", "edit_size", "window_start", "window_end"]
        try:
            watermark = progress[-1]["eventTime"]["watermark"]
            got = spark.read.parquet(out).select(*cols).toPandas()
            want = (
                flagship_transform(decode_edit_events(spark.read.text(self.src)))
                .filter(F.col("window_end") <= F.to_timestamp(F.lit(watermark)))
                .select(*cols)
                .toPandas()
            )
            if len(got) == 0:
                problem = "stream emitted no windows"
            elif len(got) != len(want):
                problem = f"rows {len(got)} != batch {len(want)}"
            elif not normalize(got).equals(normalize(want)):
                problem = "window values differ from batch"
            else:
                problem = None
        except Exception as e:  # noqa: BLE001
            problem = f"{type(e).__name__}: {str(e)[:300]}"
        return 1, int(problem is not None), [f"check stream: {problem}"] if problem else []

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


WORKLOADS = {w.name: w for w in (SuiteWorkload, FlagshipStreamWorkload)}
