"""Custom stateful streaming operators: the bucketed
applyInPandasWithState running totals (the reference WindowFunction
generalization), pinned to their native aggregate twin, and the
stream-stream interval join."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from flink_wikipedia_spark.operators.core import decode_edit_events
from flink_wikipedia_spark.streaming.sinks import MemorySink
from flink_wikipedia_spark.streaming.sources import file_source
from flink_wikipedia_spark.streaming.stateful import (
    purchases_with_recent_views,
    running_domain_totals_bucketed,
)
from tests.test_streaming import ev, write_file


def test_running_totals_accumulate_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = time.time() - 600
    write_file(src, "000.json", [ev(1, old=0, new=10), ev(2, old=0, new=5)], base)
    write_file(src, "001.json", [ev(3, old=0, new=7)], base + 10)
    sink = MemorySink()
    q = (
        running_domain_totals_bucketed(
            decode_edit_events(file_source(spark, src, max_files_per_trigger=1)),
            buckets=2,
        )
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    per_batch = [
        {r.domain: (r.n_edits, r.total_edit_size) for r in rows}
        for _, rows in sink.batches
        if rows
    ]
    # batch 1: two edits, size 15; batch 2: state carried → 3 edits, 22
    assert per_batch[0]["en.wikipedia.org"] == (2, 15)
    assert per_batch[-1]["en.wikipedia.org"] == (3, 22)


def native_domain_totals(decoded):
    """The JVM twin of running_domain_totals_bucketed: a built-in
    update-mode aggregate. coalesce(…, 0) matches the pandas sum of a
    domain whose lengths are all null, which is 0."""
    return decoded.groupBy("domain").agg(
        F.count("*").alias("n_edits"),
        F.coalesce(
            F.sum(F.abs(F.col("new_length") - F.col("old_length"))), F.lit(0)
        ).alias("total_edit_size"),
    )


def test_bucketed_totals_match_native_aggregate(spark, tmp_path):
    """running_domain_totals_bucketed must be batch-for-batch
    indistinguishable from the native groupBy("domain") aggregate in
    update mode: same per-domain lifetime counters, rows emitted only
    for domains seen in the batch, state carried across triggers.
    Exercised with many domains per bucket (buckets=2 over 6 domains)
    so merging is actually tested."""
    batches = [
        [ev(1, domain=f"d{i}.org", old=0, new=10 + i) for i in range(6)]
        + [ev(10, domain="d0.org", old=0, new=3)],
        [ev(20, domain="d1.org", old=7, new=0),
         ev(21, domain="d6.org", old=0, new=1),
         # corrupt rows — the divergence class a pandas groupby can
         # silently mishandle: null lengths must still COUNT as an
         # edit (size 0), and a null domain is its own Spark group
         json.dumps({"id": 30, "domain": "d1.org",
                     "timestamp": "2024-01-01T10:01:00Z"}),
         json.dumps({"id": 31, "old_length": 1, "new_length": 9,
                     "timestamp": "2024-01-01T10:01:00Z"})],
    ]

    def run(op, ck):
        src = str(tmp_path / f"src_{ck}")
        os.makedirs(src, exist_ok=True)
        base = time.time() - 600
        for i, lines in enumerate(batches):
            write_file(src, f"{i:03d}.json", lines, base + i * 10)
        sink = MemorySink()
        q = (
            op(decode_edit_events(
                file_source(spark, src, max_files_per_trigger=1)))
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            sorted(
                ((r.domain, r.n_edits, r.total_edit_size) for r in rows),
                key=lambda t: (t[0] is not None, t[0] or ""),
            )
            for _, rows in sink.batches
            if rows
        ]

    native = run(native_domain_totals, "ck_native")
    bucketed = run(
        lambda d: running_domain_totals_bucketed(d, buckets=2), "ck_bucketed"
    )
    assert bucketed == native
    # and the carried state is right: batch 2 updates d1 to lifetime
    # (3, 18) — the null-length edit counts, sized 0 — first-sees d6,
    # and the null-domain row forms its own group (sorted() puts the
    # None-domain tuple first)
    assert bucketed[-1] == [
        (None, 1, 8),
        ("d1.org", 3, 18),
        ("d6.org", 1, 1),
    ]


def test_stream_stream_interval_join(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    lines = [
        ev(1, ts="2024-01-01T10:00:00Z", old=0, new=1),   # "view" event
        ev(2, ts="2024-01-01T10:30:00Z", old=0, new=2),   # edit ← joins to 10:00
        ev(3, ts="2024-01-01T13:00:00Z", old=0, new=3),   # edit, view too old
    ]
    write_file(src, "000.json", lines, time.time() - 600)
    decoded = decode_edit_events(file_source(spark, src))
    joined = purchases_with_recent_views(decoded, decoded, within="1 hour")
    sink = MemorySink()
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {(r.l_new_length, r.r_new_length) for r in sink.rows}
    # only the 10:30 edit has a same-domain event in its preceding hour
    assert pairs == {(2, 1)}


def test_bucketed_totals_kill_and_resume(spark, tmp_path):
    """Bucketed state must survive a mid-stream crash: the array-valued
    bucket rows (domains/ns/ss) are reloaded from the checkpoint on
    restart and keep accumulating — final lifetime totals equal the
    pandas truth over all events, replay and all."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = time.time() - 600
    batches = [
        [ev(10 * b + i, domain=f"d{i % 3}.org", old=0, new=b + i + 1)
         for i in range(4)]
        for b in range(4)
    ]
    for b, lines in enumerate(batches):
        write_file(src, f"{b:03d}.json", lines, base + b * 10)

    truth: dict[str, tuple[int, int]] = {}
    for lines in batches:
        for line in lines:
            e = json.loads(line)
            n, s = truth.get(e["domain"], (0, 0))
            truth[e["domain"]] = (
                n + 1, s + abs(e["new_length"] - e["old_length"])
            )

    latest: dict[str, tuple[int, int]] = {}
    calls = {"n": 0}

    def crashing_sink(batch_df, epoch_id):
        for r in batch_df.collect():
            latest[r.domain] = (r.n_edits, r.total_edit_size)
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash after publishing epoch 2")

    def start(sink):
        return (
            running_domain_totals_bucketed(
                decode_edit_events(
                    file_source(spark, src, max_files_per_trigger=1)
                ),
                buckets=2,
            )
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )

    q1 = start(crashing_sink)
    try:
        q1.awaitTermination(120)
    except StreamingQueryException:
        pass
    assert calls["n"] == 2  # crashed mid-backlog

    def sink2(batch_df, epoch_id):
        for r in batch_df.collect():
            latest[r.domain] = (r.n_edits, r.total_edit_size)

    q2 = start(sink2)
    q2.awaitTermination(120)
    assert latest == truth


def test_default_bucket_count_sizing_rule():
    # sf100 sweep rule: max(8 x cores, keys/2000), floor 1024 with no
    # key estimate (the measured optimum at 1.5M keys / 32 cores)
    from flink_wikipedia_spark.streaming.stateful import default_bucket_count

    assert default_bucket_count(32) == 1024            # sandbox shape
    assert default_bucket_count(512) == 4096           # no 8-per-core starvation
    # the sweep's own shape: raw rule = max(256, 750) = 750, rounded up
    # to the measured winner 1024
    assert default_bucket_count(32, est_keys=1_500_000) == 1024
    assert default_bucket_count(4, est_keys=1_500_000) == 1024
    assert default_bucket_count(4, est_keys=10) == 32  # tiny keyspace: cores win
