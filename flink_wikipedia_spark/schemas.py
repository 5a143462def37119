"""Explicit schemas + testdata loaders.

The reference's schema system is a reflection-derived POJO
(``EditEvent.java:4-12``, ``JsonNodeDeserializationSchema.java:50-52``).
Ours is explicit ``StructType`` constants — no inference in production
paths: at 100 TB an accidental schema-inference pass over parquet
footers (or worse, JSON) is a full extra scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# A. Wikipedia edit event — the reference's input record
#    (EditEvent.java:4-12; sample payload DataStreamJob.java:51-59).
#    `id` arrives as a JSON number but the reference stores it as string
#    (JsonNodeDeserializationSchema.java:27) — we preserve that: StringType
#    with from_json doing the number→string coercion.
# ---------------------------------------------------------------------------

EDIT_EVENT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("domain", StringType()),
        StructField("namespace", StringType()),
        StructField("title", StringType()),
        StructField("timestamp", StringType()),  # ISO-8601; ts derived via to_timestamp
        StructField("user_name", StringType()),
        StructField("user_type", StringType()),
        StructField("old_length", LongType()),
        StructField("new_length", LongType()),
    ]
)

# Output of the flagship aggregation (reference emits epoch-millis start/end,
# DataStreamJob.java:101-106; we emit proper timestamps).
EDIT_SIZE_RESULT_SCHEMA = StructType(
    [
        StructField("domain", StringType()),
        StructField("edit_size", LongType()),
        StructField("window_start", TimestampType()),
        StructField("window_end", TimestampType()),
    ]
)

# ---------------------------------------------------------------------------
# B. Driver testdata tables (/root/testdata/sf*/; FIXTURES.md §B).
#    Declared explicitly so reads never infer; verified against footers.
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),  # JSON object, e.g. {"k": 87}
    ]
)

# On-disk twin for TIMESTAMP(NANOS) files only. Spark 4 cannot map parquet
# nanos to TimestampType (PARQUET_TYPE_ILLEGAL); with
# spark.sql.legacy.parquet.nanosAsLong the column reads as raw int64 nanos
# and load_table derives the logical µs TimestampType from it (same
# sub-second truncation DuckDB's µs timestamps apply). The driver's
# generator has shipped events.ts as both NANOS and MICROS across rounds,
# so load_table sniffs the footer per path instead of assuming a unit.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

# Multimodal record shape (north-star E12): opaque payload + typed metadata.
# Decode/feature-extraction operate on `payload` via Arrow-batched UDFs
# (operators/multimodal.py); Spark never interprets the bytes.
MULTIMODAL_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)

TPCH_SCHEMAS: dict[str, StructType] = {
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
}

ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_EXTRA_SCHEMAS = {
    "events": EVENTS_SCHEMA,
    "documents": DOCUMENTS_SCHEMA,
    "embeddings": EMBEDDINGS_SCHEMA,
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def table_schema(name: str) -> StructType:
    return TPCH_SCHEMAS.get(name) or _EXTRA_SCHEMAS[name]


# Footer-sniff cache: (path, probe mtime_ns, probe size) -> parquet time
# unit of events.ts ("ns"/"us"/"ms"/"s"). One pyarrow footer read per
# distinct (path, version) per process — a driver-side metadata lookup,
# never a data scan, so it costs nothing at cluster scale (executors
# never run this). Keying on the probe file's stat guards a long-lived
# process against in-place rewrites that flip the unit (the generator
# has flipped units across rounds — ADVICE r5).
_TS_UNIT_CACHE: dict[tuple[str, int, int], str] = {}


def _events_ts_unit(path: str) -> str:
    """Return the parquet time unit of the ``ts`` column at ``path``.

    The testdata generator has shipped ``events.ts`` as int64
    TIMESTAMP(NANOS) in rounds 1-3 and TIMESTAMP(MICROS) from round 4 —
    the loader must not bake in either. A raw INT64 with no timestamp
    logical type is treated as nanos (the pre-round-4 layout read that
    way). ``path`` may be a single file or a directory of part files;
    for a directory the first footer wins (one writer ⇒ uniform unit).
    """
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        # walk (not listdir): a hive-partitioned layout nests part files
        # under key=value subdirectories with nothing at the top level
        probe = None
        for root, dirs, files in os.walk(path):
            dirs.sort()
            parts = sorted(f for f in files if f.endswith(".parquet"))
            if parts:
                probe = os.path.join(root, parts[0])
                break
        if probe is None:
            raise FileNotFoundError(f"no parquet part files under {path}")
    st = os.stat(probe)
    key = (path, st.st_mtime_ns, st.st_size)
    cached = _TS_UNIT_CACHE.get(key)
    if cached is not None:
        return cached
    field = pq.ParquetFile(probe).schema_arrow.field("ts")
    unit = getattr(field.type, "unit", "ns")  # plain int64 ⇒ raw nanos
    _TS_UNIT_CACHE[key] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its declared schema.

    Explicit schema means the parquet scan does column pruning against a
    known shape and never touches footers for inference; at cluster
    scale, pair this with partitioned layouts so partition pruning also
    fires. The one footer read we do (``_events_ts_unit``) is
    driver-side metadata, cached per path.

    ``events.ts`` needs unit handling: TIMESTAMP(MICROS) maps straight
    to TimestampType (bit-identical to DuckDB under a UTC session), but
    TIMESTAMP(NANOS) is unreadable as TimestampType in Spark 4
    (PARQUET_TYPE_ILLEGAL) — for those files we read raw int64 nanos via
    ``spark.sql.legacy.parquet.nanosAsLong`` and derive the µs timestamp
    with integer division (sub-second truncation matches DuckDB's µs
    semantics).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_ts_unit(path) == "ns":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
        # integer ns→µs division (`div`), NOT float division: int64 nanos
        # exceed double's 53-bit mantissa
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        ).select(*[f.name for f in EVENTS_SCHEMA.fields])
    return spark.read.schema(table_schema(name)).parquet(path)


# Scan-splittability cache: (path, stat-aggregate, cap) -> row-group
# count, capped (see _scan_row_groups_capped). Same
# driver-side-footer-only posture as _TS_UNIT_CACHE.
_ROW_GROUPS_CACHE: dict[tuple[str, int, int, int, int], int] = {}


def _scan_row_groups_capped(path: str, cap: int) -> int:
    """Number of parquet row groups under ``path``, probing at most
    enough files to reach ``cap`` (a scan with ≥cap row groups is
    splittable enough — stop counting). Driver-side footer metadata
    only, cached per (path, stat, cap): ``cap`` is in the key because a
    count cut short at a small cap under-reports for a larger one.
    The cache saves footer reads only; building the key still costs one
    ``os.stat`` per parquet file under ``path`` on every call."""
    import pyarrow.parquet as pq

    files = []
    if os.path.isdir(path):
        for root, dirs, fs in os.walk(path):
            dirs.sort()
            files.extend(os.path.join(root, f) for f in sorted(fs)
                         if f.endswith(".parquet"))
        # Key the cache on the aggregate of per-file stats, not the
        # directory's own stat: rewriting a nested part file in place
        # does not change the directory's mtime/size, and a stale
        # row-group count makes a wrong spread decision (ADVICE r15).
        stats = [os.stat(f) for f in files]
        key = (
            path,
            max((s.st_mtime_ns for s in stats), default=0),
            sum(s.st_size for s in stats),
            len(files),
            cap,
        )
    else:
        files = [path]
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size, 1, cap)
    cached = _ROW_GROUPS_CACHE.get(key)
    if cached is not None:
        return cached
    total = 0
    for f in files:
        total += pq.ParquetFile(f).metadata.num_row_groups
        if total >= cap:
            break
    _ROW_GROUPS_CACHE[key] = total
    return total


def load_table_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table plus a scan-parallelism floor for effectively
    UNSPLITTABLE inputs (optimization guide §2.5: "one huge
    unsplittable file … repartition immediately after the read").

    A parquet scan parallelizes at most one task per ROW GROUP — split
    configs cannot help a single-row-group file (every split whose range
    misses the row-group midpoint is empty), so any per-row-heavy
    operator over such a file runs on one core while the rest idle
    (measured: TPC-H Q1's decimal partial aggregate, 1.75 s → 1.08 s
    with the spread at sf0.1 on 32 cores). When the footer probe shows
    fewer row groups than half the default parallelism, insert one
    round-robin ``repartition(defaultParallelism)`` right after the
    read; otherwise return the plain scan.

    Scale posture: the condition derives from the INPUT's layout and the
    session's core count, never a constant — at production SFs files
    carry hundreds of row groups, the condition is false, and the plan
    is bit-identical to load_table's (no exchange added). Deterministic
    under retries: round-robin repartition sorts before partitioning
    (spark.sql.execution.sortBeforeRepartition, default on), and every
    downstream value in this engine is order-independent by the
    compat.py discipline. Use for queries whose dominant cost is
    per-row compute in the scan stage; leave payload-heavy scans
    (multimodal blobs) on load_table so bytes never shuffle (guide §8).
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        row_groups = _scan_row_groups_capped(path, cap=target)
    except OSError:
        # The probe stats the driver's LOCAL filesystem; a remote
        # sf_dir (s3://, hdfs://) that Spark reads fine is not locally
        # statable — fall back to the plain scan rather than raising
        # (ADVICE r15). Remote inputs at production scale carry enough
        # row groups that the spread would be gated off anyway.
        return df
    if row_groups < max(2, target // 2):
        return df.repartition(target)
    return df

