"""Streaming sources behind one factory (reference O1,
``DataStreamJob.java:114-120``: a KafkaSource of value-only JSON bytes).

Every source yields the same shape the Kafka source does — a ``value``
string column — so the decode stage (operators/core.decode_edit_events)
is source-agnostic, exactly the property the reference's
deserializer-inside-the-source design lacks.

Kafka config notes vs the reference:
- reference subscribes to topic ``wikipedia-events`` starting at
  ``latest`` with NO checkpointing → a crash loses all in-flight
  windows silently (SURVEY.md §4.2). Our pipeline always sets a
  checkpointLocation; with Kafka that upgrades delivery to effective
  exactly-once for idempotent/upsert sinks.
- watermark alignment (``DataStreamJob.java:64``) has no Spark
  equivalent; ``maxOffsetsPerTrigger`` is the admission-control
  approximation (SURVEY.md §4.3 divergence note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _admission_limit(name: str, limit: int | None) -> str | None:
    """A per-trigger admission limit as its option string, or None for
    unbounded. Only ``None`` means unbounded: a limit of 0 is an error,
    never a silent whole-backlog batch."""
    if limit is None:
        return None
    if limit <= 0:
        raise ValueError(f"{name}={limit!r}: expected a positive count or None")
    return str(limit)


def kafka_options(
    brokers: str,
    topic: str = "wikipedia-events",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100_000,
) -> dict[str, str]:
    """The spark-sql-kafka option map, exposed as data so the contract
    is testable without a broker (tests/test_streaming assert the exact
    documented option names — `kafka.bootstrap.servers`, `subscribe`,
    `startingOffsets`, `maxOffsetsPerTrigger` — against this).

    Reference parity: topic + latest offsets mirror
    ``DataStreamJob.java:114-120``; maxOffsetsPerTrigger is the
    admission-control stand-in for watermark alignment (SURVEY §4.3)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    limit = _admission_limit("max_offsets_per_trigger", max_offsets_per_trigger)
    if limit is not None:
        opts["maxOffsetsPerTrigger"] = limit
    return opts


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topic: str = "wikipedia-events",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100_000,
) -> DataFrame:
    """Kafka → value-string frame. Not live-exercisable in this
    environment (no broker; the kafka connector jar ships separately) —
    the options contract is pinned by kafka_options() and its test."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(
        brokers, topic, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load().select(F.col("value").cast("string").alias("value"))


def socket_source(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """TCP text socket — one JSON event per line (the north star's
    named dev source; like the reference's Kafka value stream but with
    no offsets, so no fault tolerance — dev/demo only, exactly as
    Spark documents it)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
        .select(F.col("value").alias("value"))
    )


def file_source(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Directory of JSON-lines text files — the replayable test twin of
    the Kafka source (each line = one event payload)."""
    limit = _admission_limit("max_files_per_trigger", max_files_per_trigger)
    reader = spark.readStream.format("text")
    if limit is not None:
        reader = reader.option("maxFilesPerTrigger", limit)
    return reader.load(path).select(F.col("value").alias("value"))


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic load generator: rate rows rendered as edit-event JSON
    (for soak/throughput experiments without Kafka)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return rate.select(
        F.to_json(
            F.struct(
                F.col("value").cast("string").alias("id"),
                F.concat(F.lit("domain-"), (F.col("value") % 5).cast("string")).alias(
                    "domain"
                ),
                F.lit("main namespace").alias("namespace"),
                F.lit("generated").alias("title"),
                F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
                    "timestamp"
                ),
                F.lit("rate-user").alias("user_name"),
                F.lit("human").alias("user_type"),
                F.lit(0).alias("old_length"),
                (F.col("value") % 1000).alias("new_length"),
            )
        ).alias("value")
    )


def streaming_source(spark: SparkSession, kind: str, **kwargs) -> DataFrame:
    """One factory for all source kinds (the engine's O1 surface)."""
    if kind == "kafka":
        return kafka_source(spark, **kwargs)
    if kind == "socket":
        return socket_source(spark, **kwargs)
    if kind == "file":
        return file_source(spark, **kwargs)
    if kind == "rate":
        return rate_source(spark, **kwargs)
    if kind == "wikipedia_sim":
        from flink_wikipedia_spark.sources.wikipedia_sim import register

        register(spark)
        reader = spark.readStream.format("wikipedia_sim")
        for k, v in kwargs.items():
            reader = reader.option(k, str(v))
        return reader.load()
    raise ValueError(
        f"unknown source kind: {kind!r} (kafka|socket|file|rate|wikipedia_sim)"
    )
