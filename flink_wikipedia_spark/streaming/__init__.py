"""Structured Streaming layer — the reference's native habitat.

The reference is one hard-coded Flink DataStream job
(``DataStreamJob.java:49-91``). Here the SAME logical plan the batch
queries use runs incrementally under a streaming source; only the
source/sink endpoints differ (SURVEY.md §3.4):

    sources.py   kafka / file / rate / memory behind one factory
    sinks.py     foreachBatch sinks (parquet, memory); checkpointing
    pipeline.py  build_pipeline(spark, source_df, sink) — the injection
                 seam the reference exposes but never uses
                 (DataStreamJob.java:49)
    stateful.py  the one custom-state hook (bucketed
                 applyInPandasWithState running totals) and the
                 stream-stream interval join
"""

from flink_wikipedia_spark.streaming.pipeline import build_flagship_stream
from flink_wikipedia_spark.streaming.sinks import MemorySink, ParquetSink
from flink_wikipedia_spark.streaming.sources import streaming_source

__all__ = [
    "MemorySink",
    "ParquetSink",
    "build_flagship_stream",
    "streaming_source",
]
