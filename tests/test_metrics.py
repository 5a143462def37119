"""observe()-based telemetry: counters ride the job's own pass (no
re-scan), in batch via Observation and in streaming via
StreamingQueryProgress.observedMetrics."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from flink_wikipedia_spark.operators.core import decode_edit_events
from flink_wikipedia_spark.operators.metrics import (
    observe_decode_health,
    observe_quality_gate,
)
from flink_wikipedia_spark.operators.text import quality_score_cols


def test_batch_decode_health_counts_corrupt_and_null_ts(spark):
    good = json.dumps(
        {"id": 1, "domain": "en", "namespace": "main namespace", "title": "t",
         "timestamp": "2024-01-01T10:00:00Z", "user_name": "u",
         "user_type": "human", "old_length": 1, "new_length": 2}
    )
    bad_ts = good.replace("2024-01-01T10:00:00Z", "not-a-time")
    raw = spark.createDataFrame(
        [(good,), (bad_ts,), ("{broken",)], "value string"
    )
    decoded, obs = observe_decode_health(decode_edit_events(raw))
    decoded.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows_total"] == 3
    assert got["rows_corrupt"] == 1
    assert got["rows_null_ts"] == 2  # corrupt row + unparseable timestamp


def test_batch_quality_gate_metrics_match_filter(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(["token"] * 30)), (2, "too short")],
        "doc_id long, text string",
    )
    scored, obs = observe_quality_gate(docs.select("*", *quality_score_cols("text")))
    kept = scored.filter(F.col("keep") == 1)
    n_kept = kept.count()
    got = obs.get
    assert got["docs_total"] == 2
    assert got["docs_kept"] == n_kept == 1
    assert got["docs_dropped"] == 1


def test_streaming_metrics_surface_in_query_progress(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    good = json.dumps(
        {"id": 1, "domain": "en", "namespace": "main namespace", "title": "t",
         "timestamp": "2024-01-01T10:00:00Z", "user_name": "u",
         "user_type": "human", "old_length": 1, "new_length": 2}
    )
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(good + "\n{broken\n")
    raw = spark.readStream.format("text").load(src).select(
        F.col("value").alias("value")
    )
    decoded, _ = observe_decode_health(decode_edit_events(raw))
    q = (
        decoded.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # recentProgress carries observedMetrics per micro-batch
    seen = {"rows_total": 0, "rows_corrupt": 0}
    for p in q.recentProgress:
        om = p["observedMetrics"] if isinstance(p, dict) else p.observedMetrics
        if om and "decode_metrics" in om:
            row = om["decode_metrics"]
            d = row.asDict() if hasattr(row, "asDict") else dict(row)
            # sum across micro-batches (the final watermark-flush batch
            # legitimately reports zeros)
            for k in seen:
                seen[k] += d.get(k) or 0
    assert seen["rows_total"] == 2
    assert seen["rows_corrupt"] == 1


def test_flagship_stream_carries_decode_metrics(spark, tmp_path):
    """The flagship pipeline surfaces decode-health metrics in its own
    progress — no sink or extra query involved."""
    from flink_wikipedia_spark.streaming.pipeline import build_flagship_stream
    from flink_wikipedia_spark.streaming.sinks import MemorySink
    from flink_wikipedia_spark.streaming.sources import file_source

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    good = json.dumps(
        {"id": 1, "domain": "en", "namespace": "main namespace", "title": "t",
         "timestamp": "2024-01-01T10:00:00Z", "user_name": "u",
         "user_type": "human", "old_length": 1, "new_length": 2}
    )
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(good + "\n{broken\n")
    q = build_flagship_stream(
        spark, file_source(spark, src), MemorySink(), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    seen = {"rows_total": 0, "rows_corrupt": 0}
    for p in q.recentProgress:
        om = p["observedMetrics"] if isinstance(p, dict) else p.observedMetrics
        if om and "decode_metrics" in om:
            row = om["decode_metrics"]
            d = row.asDict() if hasattr(row, "asDict") else dict(row)
            # sum across micro-batches (the final watermark-flush batch
            # legitimately reports zeros)
            for k in seen:
                seen[k] += d.get(k) or 0
    assert seen["rows_total"] == 2
    assert seen["rows_corrupt"] == 1
