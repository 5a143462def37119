"""Streaming-pipeline throughput at scale, BEYOND the flagship.

The flagship's backlog numbers (40 K → 3.1 M ev/s, BENCH_sf1/sf100) are
a single stateless-decode + windowed-agg shape. This tool measures the
engine's three OTHER streaming state classes against the same scaled
event/document backlogs, the round-9 verdict ask:

- **curation**  — build_curation_stream: quality gate → fp-dedup within
  watermark → broadcast anti-join → windowed counts (5 M docs at sf100);
- **curation_triad** (r13) — the same pipeline with the FULL quality
  triad gating pre-state (heuristic + hashed classifier + hashed-bigram
  LM); the delta vs the curation leg is the marginal model-gate cost;
- **curation_neardup** (r14) — the heuristic pipeline plus the
  MinHash-LSH NEAR-dup gate (one within-watermark drop per band key);
  the delta vs the curation leg is the fuzzy-dedup cost — two extra
  per-band stateful shuffles per trigger — and the state delta is the
  per-band key stores;
- **stateful_jvm** — per-user lifetime counters as a built-in streaming
  aggregate in update mode (JVM state, no Python worker in the loop).
  Registered so the cost of choosing the Python-stateful path is a
  standing, visible number (round-9 verdict: ~60× at sf100): reach for
  applyInPandasWithState only for semantics aggregates can't express —
  session machines, custom eviction, cross-event pattern state — never
  for counters;
- **stateful_bucketed** — running_domain_totals_bucketed: the SAME
  counters through applyInPandasWithState with hash-bucketed state
  (1024 buckets over ~1.5 M keys ⇒ ~1 K Python calls per trigger
  instead of one per key). When the custom state machine is
  per-key-independent and needs no per-key timeout, bucketing recovers
  most of the Python-path gap;
- **ss_join**   — purchases_with_recent_views: stream-stream interval
  join, state bounded by the 1 h horizon on each side.

Inputs render once per (sf, table): events sort by ts into K sequential
files so `maxFilesPerTrigger` batches replay the backlog in event-time
order — watermarks advance between batches and state EVICTS, which is
the property being measured (a single availableNow mega-batch would
hold everything and measure nothing but buffer size). Document
timestamps are synthesized (doc_id-ordered, spread over 24 h) because
the table has none.

Every leg is bracketed with the /proc/stat hypervisor-steal counter
(r15, the bench.py r14 protocol): per-leg `load_before` +
`cpu_steal.stolen_cpu_frac` make a contaminated sample self-evident
from the artifact alone — loadavg cannot certify a run on this
overcommitted host (r14 TRIAGE).

State-store numbers come from the final StreamingQueryProgress
(stateOperators[]: numRowsTotal, memory/customMetrics) plus a du of the
checkpoint's state dir. Run under the deployment store:

    SPARK_GRAFT_STATE_STORE=rocksdb python tools/bench_stream_pipelines.py \
        .scratch/sf100 .scratch/stream_sf100.json

Caps (--events/--docs) exist for smoke runs at small SF; at sf100 the
full backlog is the point.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENT_FILES = 20   # → 20 event-time-ordered batches with maxFilesPerTrigger=1
N_DOC_FILES = 12


def render_events(spark, sf_dir: str, out_dir: str, cap: int | None) -> int:
    """events table → edit-event JSON lines, ts-sorted into sequential
    files. domain is the USER key (u<user_id>) so the stateful/join legs
    exercise a realistic high-cardinality keyspace, not 5 hot domains;
    event_type rides in `title` so legs can split purchase/view."""
    from pyspark.sql import functions as F

    from flink_wikipedia_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events")
    if cap:
        ev = ev.filter(F.col("event_id") < cap)
    n = ev.count()
    payload = ev.select(
        "ts",
        F.to_json(
            F.struct(
                F.col("event_id").cast("string").alias("id"),
                F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("domain"),
                F.lit("main namespace").alias("namespace"),
                F.col("event_type").alias("title"),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
                F.lit("u").alias("user_name"),
                F.lit("human").alias("user_type"),
                F.lit(0).alias("old_length"),
                F.col("value").cast("long").alias("new_length"),
            )
        ).alias("value"),
    )
    # range-partition on ts then drop it: each output file is an
    # event-time slab, and lexicographic file order == time order.
    payload.repartitionByRange(N_EVENT_FILES, "ts").select("value").write.mode(
        "overwrite"
    ).text(out_dir)
    _sequence_files(out_dir)
    return n


def render_docs(spark, sf_dir: str, out_dir: str, cap: int | None) -> int:
    """documents table → curation-stream JSON lines with synthesized
    event time: doc_id maps onto a 24 h ingest day (~58 docs/s at sf100),
    sorted into sequential files like the events."""
    from pyspark.sql import functions as F

    from flink_wikipedia_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    if cap:
        docs = docs.filter(F.col("doc_id") < cap)
    n = docs.count()
    ts = F.timestamp_seconds(
        F.lit(1704067200) + (F.col("doc_id") * 86400 / max(n, 1)).cast("long")
    )
    payload = docs.withColumn("_ts", ts).select(
        "_ts",
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.col("lang"),
                F.col("text"),
                F.date_format("_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
            )
        ).alias("value"),
    )
    payload.repartitionByRange(N_DOC_FILES, "_ts").select("value").write.mode(
        "overwrite"
    ).text(out_dir)
    _sequence_files(out_dir)
    return n


def _sequence_files(out_dir: str) -> None:
    """Spark part-file names don't sort by range-partition id reliably
    across writes; rename to 0000.json… so the file source's modified-
    time/name ordering replays slabs in event-time order."""
    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and not f.endswith(".crc")
    )
    now = time.time()
    for i, f in enumerate(parts):
        dst = os.path.join(out_dir, f"{i:04d}.json")
        os.rename(os.path.join(out_dir, f), dst)
        os.utime(dst, (now + i, now + i))
    for f in os.listdir(out_dir):
        if f.endswith(".crc") or f.startswith("_"):
            os.remove(os.path.join(out_dir, f))


class CountSink:
    """foreachBatch sink that only counts — sink cost ≈ 0, so the wall
    clock measures the pipeline."""

    def __init__(self) -> None:
        self.rows = 0
        self.batches = 0

    def __call__(self, batch_df, epoch_id) -> None:
        self.rows += batch_df.count()
        self.batches += 1


def state_metrics(query, ck_dir: str) -> dict:
    prog = query.lastProgress or {}
    ops = []
    for op in prog.get("stateOperators", []) or []:
        ops.append(
            {
                "operator": op.get("operatorName"),
                "numRowsTotal": op.get("numRowsTotal"),
                "memoryUsedBytes": op.get("memoryUsedBytes"),
                "custom": {
                    k: v
                    for k, v in (op.get("customMetrics") or {}).items()
                    if "SstFiles" in k or "Memory" in k or "loadedMap" in k.lower()
                },
            }
        )
    state_dir = os.path.join(ck_dir, "state")
    du = 0
    if os.path.isdir(state_dir):
        out = subprocess.run(
            ["du", "-sb", state_dir], capture_output=True, text=True
        ).stdout.split()
        du = int(out[0]) if out else 0
    return {"operators": ops, "state_dir_bytes": du}


def run_leg(name: str, build, ck_dir: str, n_in: int) -> dict:
    # r15: bracket every leg with the /proc/stat steal counter (the
    # bench.py r14 protocol) — the r14 TRIAGE proved loadavg cannot
    # certify a stream sample on this overcommitted host (clean-start
    # absolutes came out LOWER than a contaminated run's on identical
    # code); per-leg stolen_cpu_frac is the discriminator.
    from bench import _steal_payload, _steal_ticks

    sink = CountSink()
    load_before = [round(x, 2) for x in os.getloadavg()[:2]]
    steal_before = _steal_ticks()
    t0 = time.perf_counter()
    q = build(sink, ck_dir)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    cpu_steal = _steal_payload(steal_before, t0)
    m = state_metrics(q, ck_dir)
    rec = {
        "input_rows": n_in,
        "output_rows": sink.rows,
        "batches": sink.batches,
        "wall_sec": round(wall, 1),
        "rows_per_sec": round(n_in / wall, 1),
        "load_before": load_before,
        "cpu_steal": cpu_steal,
        "state": m,
    }
    print(f"{name}: {json.dumps(rec)}", flush=True)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_json")
    ap.add_argument("--events", type=int, default=None, help="cap event rows")
    ap.add_argument("--docs", type=int, default=None, help="cap doc rows")
    ap.add_argument("--work", default=None, help="render/checkpoint dir")
    ap.add_argument("--keep", action="store_true", help="keep rendered inputs")
    ap.add_argument(
        "--legs",
        default="curation,curation_triad,curation_neardup,stateful_jvm,stateful_bucketed,ss_join",
        help="comma list to run",
    )
    ap.add_argument(
        "--buckets",
        type=int,
        default=None,
        help="bucket count for the stateful_bucketed leg (default: "
        "stateful.default_bucket_count from cores and the rendered "
        "events' distinct keys)",
    )
    args = ap.parse_args()

    from flink_wikipedia_spark.operators.core import decode_edit_events
    from flink_wikipedia_spark.session import get_spark
    from flink_wikipedia_spark.streaming.pipeline import build_curation_stream
    from flink_wikipedia_spark.streaming.sources import file_source
    from flink_wikipedia_spark.streaming.stateful import (
        default_bucket_count,
        purchases_with_recent_views,
        running_domain_totals_bucketed,
        validate_bucket_count,
    )
    from pyspark.sql import functions as F

    spark = get_spark("bench-stream-pipelines")
    spark.sparkContext.setLogLevel("ERROR")
    work = args.work or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        "stream_bench",
    )
    os.makedirs(work, exist_ok=True)
    legs = set(args.legs.split(","))
    results: dict = {
        "metric": "streaming_pipelines",
        "sf_dir": args.sf_dir,
        "state_store": os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "load_before": [round(x, 2) for x in os.getloadavg()[:2]],
        "legs": {},
    }

    ev_dir = os.path.join(work, "events_json")
    doc_dir = os.path.join(work, "docs_json")

    if legs & {"stateful_jvm", "stateful_bucketed", "ss_join"}:
        t0 = time.perf_counter()
        n_ev = render_events(spark, args.sf_dir, ev_dir, args.events)
        print(f"rendered {n_ev} events in {time.perf_counter()-t0:.0f}s", flush=True)
    if legs & {"curation", "curation_triad", "curation_neardup"}:
        t0 = time.perf_counter()
        n_docs = render_docs(spark, args.sf_dir, doc_dir, args.docs)
        print(f"rendered {n_docs} docs in {time.perf_counter()-t0:.0f}s", flush=True)

    if "curation" in legs:
        # watermark widened to 10 min: at the synthesized ~58 docs/s the
        # default 10 s horizon would hold only ~600 fp keys — too small
        # to exercise the store. 10 min ≈ 35 K live keys per batch.
        def build(sink, ck):
            return build_curation_stream(
                spark,
                file_source(spark, doc_dir, max_files_per_trigger=1),
                sink,
                ck,
                watermark="10 minutes",
            )

        results["legs"]["curation"] = run_leg(
            "curation", build, os.path.join(work, "ck_curation"), n_docs
        )

    if "curation_triad" in legs:
        # the r13 full quality triad in-stream (heuristic + classifier +
        # LM gates, all stateless pre-state projections): measured
        # side-by-side with the heuristic-only leg so the marginal cost
        # of the two model gates is a standing number
        def build(sink, ck):
            return build_curation_stream(
                spark,
                file_source(spark, doc_dir, max_files_per_trigger=1),
                sink,
                ck,
                watermark="10 minutes",
                classifier_gate=True,
                lm_gate=True,
            )

        results["legs"]["curation_triad"] = run_leg(
            "curation_triad", build,
            os.path.join(work, "ck_curation_triad"), n_docs
        )

    if "curation_neardup" in legs:
        # the r14 fuzzy-dedup gate: MinHash band keys (row-local folds)
        # + one within-watermark drop per band, chained after the exact
        # fp drop. Measured side-by-side with the curation leg so the
        # marginal throughput cost AND the extra state (MINHASH_BANDS
        # keys per kept doc vs 1 fp key) are standing numbers.
        def build(sink, ck):
            return build_curation_stream(
                spark,
                file_source(spark, doc_dir, max_files_per_trigger=1),
                sink,
                ck,
                watermark="10 minutes",
                neardup_gate=True,
            )

        results["legs"]["curation_neardup"] = run_leg(
            "curation_neardup", build,
            os.path.join(work, "ck_curation_neardup"), n_docs
        )

    if "stateful_bucketed" in legs:
        # size auto buckets to the rendered keyspace: without a key
        # estimate the floor is 1 024 buckets, about one key per bucket
        # at small SF, so nothing is amortized and the leg measures
        # per-call Python overhead instead of bucketing
        est_keys = (
            spark.read.schema("domain string").json(ev_dir).distinct().count()
        )
        buckets = (
            args.buckets
            if args.buckets is not None
            else default_bucket_count(spark.sparkContext.defaultParallelism, est_keys)
        )

        def build(sink, ck):
            # pin the count to the checkpoint (ADVICE r11 guard): a
            # resumed run with a different --buckets (or a resize that
            # changes the auto-derived count) fails loudly here instead
            # of silently re-sharding state
            validate_bucket_count(ck, buckets)
            totals = running_domain_totals_bucketed(
                decode_edit_events(
                    file_source(spark, ev_dir, max_files_per_trigger=1)
                ),
                buckets=buckets,
            )
            return (
                totals.writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )

        rec = run_leg(
            "stateful_bucketed", build, os.path.join(work, "ck_stateful_b"), n_ev
        )
        rec["buckets"] = buckets
        rec["est_keys"] = est_keys
        results["legs"]["stateful_bucketed"] = rec

    if "stateful_jvm" in legs:
        # Built-in twin of running_domain_totals_bucketed: identical output
        # schema and cadence (one updated row per key per batch), but
        # the state row is a native unsaferow aggregate buffer — no
        # Arrow transfer, no Python worker. Same input, same store.
        def build(sink, ck):
            decoded = decode_edit_events(
                file_source(spark, ev_dir, max_files_per_trigger=1)
            )
            totals = decoded.groupBy("domain").agg(
                F.count("*").alias("n_edits"),
                F.sum(F.abs(F.col("new_length") - F.col("old_length"))).alias(
                    "total_edit_size"
                ),
            )
            return (
                totals.writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )

        results["legs"]["stateful_jvm"] = run_leg(
            "stateful_jvm", build, os.path.join(work, "ck_stateful_jvm"), n_ev
        )

    if "ss_join" in legs:
        # purchases (left, rare-ish) ⋈ preceding-hour views (right),
        # keyed per user — event_type rides in the decoded `title`.
        def build(sink, ck):
            decoded = decode_edit_events(
                file_source(spark, ev_dir, max_files_per_trigger=1)
            )
            joined = purchases_with_recent_views(
                decoded.filter(F.col("title") == "purchase"),
                decoded.filter(F.col("title") == "view"),
                within="1 hour",
            )
            return (
                joined.writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )

        results["legs"]["ss_join"] = run_leg(
            "ss_join", build, os.path.join(work, "ck_ssjoin"), n_ev
        )

    results["load_after"] = [round(x, 2) for x in os.getloadavg()[:2]]
    with open(args.out_json, "w") as fh:
        json.dump(results, fh, indent=1)
    print(json.dumps(results, separators=(",", ":")), flush=True)
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
