"""Streaming sinks (reference O11, ``DataStreamJob.java:125-135``: a
MongoSink with 1000-doc batches, 3 retries, at-least-once).

Our sink abstraction is ``foreachBatch`` + a small sink object:
foreachBatch hands us a batch DataFrame and an epoch id, and the sink
decides idempotency. The reference's at-least-once + no checkpointing
means replayed duplicates AND lost windows; ours checkpoints every
query (exactly-once state) and makes the sink idempotent by keying
writes on the epoch (parquet) or upserting on the natural key
(domain, window_start) — the SURVEY.md §7 "hard part (4)" answer.

A real Mongo deployment would use the mongo-spark-connector in the
same foreachBatch seam (upsert on (domain, window_start)); not
installable here, so ParquetSink/MemorySink are the shipping sinks.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


class MemorySink:
    """Collects batches in memory — the assertion sink for tests
    (bounded use only)."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, list]] = []
        self._lock = threading.Lock()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.collect()
        with self._lock:
            self.batches.append((epoch_id, rows))

    @property
    def rows(self) -> list:
        with self._lock:
            return [r for _, rows in self.batches for r in rows]


class ParquetSink:
    """Idempotent parquet writer: each epoch lands in its own
    subdirectory, so a replayed epoch overwrites itself instead of
    duplicating — at-least-once foreachBatch upgraded to effective
    exactly-once."""

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{self.path}/epoch={epoch_id}")


class RetrySink:
    """Bounded-retry wrapper for transient sink failures — the twin of
    the reference's ``MongoSink.setMaxRetries(3)``
    (``DataStreamJob.java:131``). Retries the SAME batch in-process
    (cheap, no state-store replay); if all attempts fail the error
    propagates and Structured Streaming's checkpoint replays the epoch —
    at-least-once either way, and exactly-once when the wrapped sink is
    idempotent/upsert-keyed (ParquetSink / UpsertParquetSink)."""

    def __init__(self, inner, max_retries: int = 3, backoff_s: float = 0.5) -> None:
        # a negative count would skip every attempt and reach ``raise
        # None``; a negative backoff makes time.sleep raise mid-retry
        if max_retries < 0 or backoff_s < 0:
            raise ValueError(
                f"RetrySink: max_retries={max_retries!r} and "
                f"backoff_s={backoff_s!r} must both be >= 0"
            )
        self.inner = inner
        self.max_retries = max_retries
        self.backoff_s = backoff_s

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import time

        last: Exception | None = None
        for attempt in range(self.max_retries + 1):
            try:
                self.inner(batch_df, epoch_id)
                return
            except Exception as e:  # noqa: BLE001 — sink errors are retryable
                last = e
                if attempt < self.max_retries:
                    time.sleep(self.backoff_s * (2**attempt))
        raise last  # propagate: the reference swallows; we do not


class MongoSink:
    """Config stub for the real Mongo twin of the reference's sink
    (``DataStreamJob.java:125-135``: MongoSink, 1000-doc batches,
    3 retries, at-least-once). Uses the mongo-spark-connector v10+
    through the same foreachBatch seam as every other sink here; the
    connector jar is not installable in this environment, so the stub
    validates+exposes the write config and fails with a clear message
    at write time if the connector is absent.

    Upsert semantics: ``operationType=replace`` keyed on
    ``idFieldList`` (the flagship's natural key ``domain,window_start``)
    makes at-least-once foreachBatch replays idempotent — the semantic
    the reference LACKS (no checkpointing + at-least-once ⇒ duplicate
    docs on restart, SURVEY.md §4.2). Wrap in RetrySink for
    setMaxRetries(3) parity."""

    FORMAT = "mongodb"  # mongo-spark-connector v10 short name

    def __init__(
        self,
        uri: str,
        database: str,
        collection: str = "wikiedits",
        key_cols: list[str] | None = None,
        max_batch_size: int = 1000,  # reference's setBatchSize(1000)
    ) -> None:
        self.uri = uri
        self.database = database
        self.collection = collection
        self.key_cols = key_cols or ["domain", "window_start"]
        self.max_batch_size = max_batch_size

    def write_options(self) -> dict[str, str]:
        """The documented mongo-spark-connector write options — exposed
        as data (like sources.kafka_options) so the contract is
        testable without a Mongo deployment."""
        return {
            "connection.uri": self.uri,
            "database": self.database,
            "collection": self.collection,
            "operationType": "replace",
            "idFieldList": ",".join(self.key_cols),
            "maxBatchSize": str(self.max_batch_size),
        }

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        writer = batch_df.write.format(self.FORMAT).mode("append")
        for k, v in self.write_options().items():
            writer = writer.option(k, v)
        try:
            writer.save()
        except Exception as e:  # noqa: BLE001
            if "mongodb" in str(e).lower() or "Failed to find" in str(e):
                raise NotImplementedError(
                    "mongo-spark-connector not on the classpath — add "
                    "org.mongodb.spark:mongo-spark-connector_2.13:10.x "
                    "via spark.jars.packages; config above is complete"
                ) from e
            raise


class UpsertParquetSink:
    """Upsert-keyed sink — the twin of the reference's Mongo writes
    (``DataStreamJob.java:125-135``), which replace documents by key.
    Each batch merges into the keyed store: existing rows with matching
    keys are replaced, others kept (SURVEY.md §7 hard part (4): the
    flagship keys on (domain, window_start), making at-least-once
    replays invisible).

    Implementation is read-merge-write-new-version + atomic pointer
    swap: each epoch writes a fresh ``v=<epoch>`` directory and then
    atomically republishes the ``_CURRENT`` pointer (os.replace). A
    crash at ANY point leaves the previous version fully intact and
    readable — replaying the epoch simply rebuilds the same new version.
    Fine for window-aggregate volumes (output is |keys × windows|, not
    events); a real deployment swaps in Delta/Iceberg MERGE or Mongo
    replaceOne(upsert) through this same seam."""

    def __init__(self, path: str, key_cols: list[str]) -> None:
        self.path = path
        self.key_cols = key_cols

    def _pointer(self) -> str:
        import os

        return os.path.join(self.path, "_CURRENT")

    def current_version_path(self) -> str | None:
        import os

        try:
            with open(self._pointer()) as f:
                name = f.read().strip()
        except FileNotFoundError:
            return None
        p = os.path.join(self.path, name)
        return p if os.path.exists(p) else None

    def read_current(self, spark):
        cur = self.current_version_path()
        return spark.read.parquet(cur) if cur else None

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil
        import tempfile

        spark = batch_df.sparkSession
        os.makedirs(self.path, exist_ok=True)
        batch = batch_df.cache()
        try:
            existing = self.read_current(spark)
            if existing is not None:
                keep = existing.join(
                    batch.select(*self.key_cols).distinct(),
                    self.key_cols,
                    "left_anti",
                )
                merged = keep.unionByName(batch)
            else:
                merged = batch
            # version dir is unique PER INVOCATION (uuid suffix), never
            # reused on replay: the merge plan lazily reads the published
            # version, so the write target must always be a fresh dir
            import uuid

            version = f"v={epoch_id}-{uuid.uuid4().hex[:8]}"
            vpath = os.path.join(self.path, version)
            merged.write.mode("overwrite").parquet(vpath)
            # atomic publish: write-temp + os.replace
            fd, tmp = tempfile.mkstemp(dir=self.path, prefix="._CURRENT.")
            with os.fdopen(fd, "w") as f:
                f.write(version)
            os.replace(tmp, self._pointer())
            # old versions are garbage, not truth — safe to drop
            for name in os.listdir(self.path):
                if name.startswith("v=") and name != version:
                    shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        finally:
            batch.unpersist()
