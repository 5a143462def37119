"""Partition-pruning evidence: a date-partitioned parquet layout must
let a date-filtered scan touch ONLY the matching partition directories —
the mechanism that turns a 100 TB table into a one-day read.

Complements tests/test_bucketing.py (shuffle elimination); together they
cover the two physical-layout levers SCALE.md leans on.

Also pins the row-group probe that gates load_table_spread's scan
repartition.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from flink_wikipedia_spark.schemas import _scan_row_groups_capped, load_table


def test_date_partitioned_scan_prunes_files(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "events_by_day")
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .parquet(out)
    )

    all_days = spark.read.parquet(out)
    n_days = all_days.select("event_date").distinct().count()
    assert n_days > 1, "fixture must span multiple days for pruning to mean anything"

    one_day = all_days.select(F.max("event_date")).first()[0]
    pruned = all_days.filter(F.col("event_date") == F.lit(one_day))

    # physical evidence: the predicate lands in the scan's
    # PartitionFilters (directory-level pruning) and leaves DataFilters
    # empty — no row ever needs filtering because no non-matching file
    # is opened. (inputFiles() is NOT usable as evidence: it reflects
    # the unpruned relation.)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "event_date" in part_filters
    assert "DataFilters: []" in plan

    # and the pruned read returns exactly that day's rows
    expected = (
        ev.withColumn("event_date", F.to_date("ts"))
        .filter(F.col("event_date") == F.lit(one_day))
        .count()
    )
    assert pruned.count() == expected


def test_clustered_write_bounds_file_count(spark, tmp_path):
    """Small-files evidence: a naive partitionBy write emits one file
    per (task × partition value); clustering on the partition column
    first collapses that to ~1, and maxRecordsPerFile re-splits to a
    bounded size — write-time layout control, sources/batch.py."""
    import glob

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").repartition(8)
    from flink_wikipedia_spark.sources.batch import write_partitioned

    naive = str(tmp_path / "naive")
    write_partitioned(docs, naive, partition_cols=["lang"])
    clustered = str(tmp_path / "clustered")
    write_partitioned(
        docs, clustered, partition_cols=["lang"], sort_cols=["doc_id"],
        cluster=True, max_records_per_file=10_000,
    )

    def files_per_dir(root):
        return {
            d.rsplit("/", 1)[1]: len(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{root}/lang=*")
        }

    n_naive, n_clustered = files_per_dir(naive), files_per_dir(clustered)
    assert set(n_naive) == set(n_clustered)
    # every upstream task wrote into (almost) every partition dir...
    assert sum(n_naive.values()) > 3 * len(n_naive)
    # ...while the clustered layout emits exactly one bounded file each
    assert all(n == 1 for n in n_clustered.values()), n_clustered
    # and the data survives identically
    a = spark.read.parquet(naive).select("doc_id").collect()
    b = spark.read.parquet(clustered).select("doc_id").collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)


def test_zorder_layout_makes_both_dims_prunable(spark, tmp_path):
    """Multi-dimensional clustering evidence: a single-column time sort
    makes only time predicates skip row groups (user stats span the
    full range in every group); the Z-order layout makes BOTH columns'
    footer stats tight, so equality predicates on EITHER dim skip most
    groups — the Delta/Iceberg OPTIMIZE ZORDER effect, measured on the
    actual parquet row-group min/max stats the reader prunes with.
    Measured at 49 row groups: user-eq skip 0.16 → 0.75, time-eq skip
    0.98 → 0.83; sources/batch.zorder_key."""
    import glob

    import pyarrow.parquet as pq

    from flink_wikipedia_spark.sources.batch import zorder_key

    ev = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "user_id", F.unix_timestamp("ts").alias("t")
    )
    tmin, tmax, umax = ev.agg(F.min("t"), F.max("t"), F.max("user_id")).first()
    # min-max scale both dims onto the same 8-bit bucket space — a
    # modulo would wrap and destroy locality; unequal bit usage starves
    # one dimension of interleave levels
    prepared = ev.select(
        "user_id",
        "t",
        (F.col("user_id") * 255 / F.lit(umax)).cast("long").alias("ub"),
        ((F.col("t") - F.lit(tmin)) * 255 / F.lit(tmax - tmin)).cast("long").alias("tb"),
    )

    def skip_fractions(sort_cols, path):
        (
            prepared.sortWithinPartitions(*sort_cols)
            .coalesce(1)
            .write.mode("overwrite")
            .option("parquet.block.size", 64 * 1024)
            .parquet(str(path))
        )
        f = pq.ParquetFile(glob.glob(f"{path}/*.parquet")[0])
        assert f.num_row_groups > 20, "need many row groups for z-tiles to form"
        idx = {c: i for i, c in enumerate(f.schema_arrow.names)}
        stats = []
        for g in range(f.num_row_groups):
            rg = f.metadata.row_group(g)
            su = rg.column(idx["user_id"]).statistics
            st = rg.column(idx["t"]).statistics
            stats.append((su.min, su.max, st.min, st.max))
        n = len(stats)
        users = [0, umax // 2, umax]
        uskip = sum(
            1 for u in users for (a, b, _, _) in stats if not (a <= u <= b)
        ) / (n * len(users))
        times = [tmin + (tmax - tmin) // 4, tmin + (tmax - tmin) // 2]
        tskip = sum(
            1 for t in times for (_, _, c, d) in stats if not (c <= t <= d)
        ) / (n * len(times))
        return uskip, tskip

    u_time, t_time = skip_fractions(["t"], tmp_path / "by_time")
    u_z, t_z = skip_fractions(
        [zorder_key(["ub", "tb"], bits=8).alias("zk")], tmp_path / "by_z"
    )
    # time sort: time predicates prune nearly everything, user nearly nothing
    assert t_time > 0.9
    assert u_time < 0.4
    # z-order: BOTH dims prune most groups
    assert u_z > 0.6 and u_z > 2 * u_time, (u_time, u_z)
    assert t_z > 0.6, (t_time, t_z)


def test_events_ts_predicate_reaches_parquet_scan(spark):
    """With events.ts read as a native parquet timestamp (round-5 footer
    sniffing), time-range predicates must land in PushedFilters — that
    is row-group min/max skipping, the difference between scanning a day
    and scanning 100 TB. The old raw-nanos read path made this
    impossible (the filter sat above a conversion expression)."""
    import os
    import re

    from flink_wikipedia_spark.schemas import _events_ts_unit, load_table
    from tests.conftest import SF_SMOKE

    if _events_ts_unit(os.path.join(SF_SMOKE, "events.parquet")) == "ns":
        pytest.skip(
            "fixture shipped TIMESTAMP(NANOS) this round — the raw-long "
            "fallback read cannot push ts predicates (by design)"
        )
    ev = load_table(spark, SF_SMOKE, "events")
    q = ev.filter(F.col("ts") >= "2024-01-15").select("event_id", "ts")
    plan = q._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "GreaterThanOrEqual(ts" in m.group(1), m.group(1)


def test_row_group_probe_cache_is_keyed_on_cap(tmp_path):
    """A count cut short at a small cap must not be reused for a larger
    cap: an under-count makes load_table_spread repartition a scan that
    is already splittable. Three one-row-group files: cap=1 stops
    after the first file."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"x": [i]}), table / f"part-{i}.parquet")
    assert _scan_row_groups_capped(str(table), cap=1) == 1
    assert _scan_row_groups_capped(str(table), cap=10) == 3
