"""Reference-parity operators (SURVEY.md §2.1).

The reference pipeline (``DataStreamJob.java:61-87``):
    kafka → JSON decode → filter(human ∧ main-namespace)
          → project(domain, new_length, old_length)
          → keyBy(domain) ⊗ tumble(5 min)
          → sum(abs(new_length − old_length)) → to_json → mongo

Each stage below is one composable transform over the edit-event schema.
They work identically on batch DataFrames and Structured Streaming
DataFrames — the batch/stream unification the Flink DataStream API
doesn't give the reference.

Scale notes are inline per operator; the headline one: the whole
pipeline has exactly ONE shuffle (the groupBy), Spark performs
partial→final aggregation automatically (the reference buffers whole
windows as list state and folds at fire time, ``DataStreamJob.java:96-100``
— strictly worse), and everything else chains into scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_wikipedia_spark.schemas import EDIT_EVENT_SCHEMA

CORRUPT_COL = "_corrupt_record"


def decode_edit_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Bytes/string → typed edit-event rows (reference O2,
    ``JsonNodeDeserializationSchema.java:24-37``).

    The reference extracts fields with no null checks — a missing field
    NPEs the task and kills the job (SURVEY.md §1.3). We instead parse
    permissively: malformed documents land in ``_corrupt_record``
    instead of failing the stream, and a derived event-time ``ts``
    column is added (the reference parses the ISO timestamp never — its
    declared watermark strategy is dead code, SURVEY.md §4.3).
    """
    # copy-construct: StructType.add mutates in place, which would grow the
    # shared schema constant on every call
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(EDIT_EVENT_SCHEMA.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    parsed = raw.select(
        F.from_json(
            F.col(value_col).cast("string"),
            schema,
            {"columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("e")
    ).select("e.*")
    # try_to_timestamp, not to_timestamp: under ANSI mode (which the
    # engine runs for oracle-parity arithmetic) a plain cast THROWS on a
    # malformed timestamp and kills the stream — the same
    # poison-message fragility as the reference's NPE. try_ yields null;
    # the row keeps flowing and windowing simply can't place it.
    # Range-clamp as well: inputs like "-1000" parse to year −1000, a
    # valid Spark timestamp that Python-side collection cannot represent
    # (found by the hypothesis decode-never-throws property).
    ts = F.try_to_timestamp("timestamp")
    sane = ts.between(
        F.lit("0001-01-01 00:00:00").cast("timestamp"),
        F.lit("9999-12-31 23:59:59").cast("timestamp"),
    )
    return parsed.withColumn("ts", F.when(sane, ts))


def filter_human_main(df: DataFrame) -> DataFrame:
    """Predicate filter (reference O5, ``DataStreamJob.java:68-77``):
    ``user_type = 'human' AND namespace = 'main namespace'``, both
    case-insensitive (``equalsIgnoreCase``, ``:71-72``).

    A plain conjunctive predicate ⇒ Catalyst pushes it into the scan
    (parquet row-group skipping / Kafka-side projection); at 100 TB this
    is the difference between scanning everything and skipping most
    row groups on a sorted layout.
    """
    return df.filter(
        (F.lower(F.col("user_type")) == "human")
        & (F.lower(F.col("namespace")) == "main namespace")
    )


def edit_size_expr() -> Column:
    """``Σ abs(new_length − old_length)`` (reference O9 inner loop,
    ``DataStreamJob.java:97-100``). Long arithmetic: exact, no decimal
    dance needed."""
    return F.sum(F.abs(F.col("new_length") - F.col("old_length"))).alias("edit_size")


def windowed_edit_size(
    df: DataFrame,
    window_duration: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """The flagship aggregate (reference O7+O8+O9,
    ``DataStreamJob.java:84-86`` + ``MyWindowFunction`` ``:93-108``):
    per (domain, 5-minute tumbling window), sum of absolute edit sizes.

    Decision recorded in SURVEY.md §4.3: the reference windows on
    *processing* time (its event-time watermark is dead code); we window
    on event time, which is batch-replayable and oracle-checkable.

    Emits flat ``window_start``/``window_end`` timestamp columns rather
    than Spark's window struct (oracle-compat, FIXTURES.md).

    Physical plan: partial HashAggregate → Exchange(hashpartitioning by
    domain, window) → final HashAggregate. The single shuffle carries
    only (domain, window, partial_sum) — map-side combine collapses
    per-partition rows to per-key rows before the wire, which is what
    makes this survive 100 TB with a skewed domain distribution
    (en.wikipedia.org dominating is an AQE skew-join/salting concern
    only for joins; for aggregates the partial step already absorbs it).
    """
    w = F.window(F.col(ts_col), window_duration)
    return (
        df.groupBy(w.alias("w"), F.col("domain"))
        .agg(edit_size_expr())
        .select(
            "domain",
            "edit_size",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


def edit_size_by_domain(df: DataFrame) -> DataFrame:
    """Keys-only variant of the flagship (reference O7+O9 without the
    time dimension) — per-domain total edit size."""
    return df.groupBy("domain").agg(edit_size_expr())


def encode_json(df: DataFrame, *cols: str) -> DataFrame:
    """Row → JSON string (reference O10, ``DataStreamJob.java:101-106``
    builds a BSON document and emits ``doc.toJson()``).

    ``to_json(struct(...))`` stays inside whole-stage codegen — no
    Python, no per-row object churn."""
    use = list(cols) or df.columns
    return df.select(F.to_json(F.struct(*use)).alias("json"))


def build_flagship_batch(edit_events: DataFrame) -> DataFrame:
    """Compose O5→O6→O9 over decoded edit events — the reference's whole
    query as one logical plan (``DataStreamJob.java:61-87``)."""
    return windowed_edit_size(project_with_ts(filter_human_main(edit_events)))


def project_with_ts(df: DataFrame) -> DataFrame:
    """Projection that also keeps the event-time column (the streaming/
    batch flagship needs ts for windowing; reference drops it because it
    windows on processing time)."""
    return df.select("domain", "new_length", "old_length", "ts")
