"""Pin the 1 GB/core heap deployment rule (SCALE.md §sf100 forensics)
now that it ships in session.py instead of living only in the docs:
Q9/Q21 spilled 18-20 GB at 8 GB heap / 32 cores and the spill vanished
at 1 GB/core, so the session factory warns whenever the JVM running
tasks has less heap per slot than that. get_spark also rejects a
malformed local-cluster master before it starts a JVM."""

from __future__ import annotations

import pytest

from flink_wikipedia_spark.session import (
    HEAP_MB_PER_CORE_RULE,
    _parse_mem_mb,
    heap_rule_warning,
)


def test_mem_string_parsing():
    assert _parse_mem_mb("8g") == 8192
    assert _parse_mem_mb("4096m") == 4096
    assert _parse_mem_mb("1.5g") == 1536
    assert _parse_mem_mb("2048k") == 2
    assert _parse_mem_mb(str(64 * 1024 * 1024)) == 64
    assert _parse_mem_mb("weird") is None


def test_sandbox_shape_warns():
    # the driver environment: local[32] with 8 GB driver heap = 256
    # MB/core — the exact shape the sf100 forensics caught spilling
    w = heap_rule_warning("local[32]", "8g")
    assert w is not None
    assert "256 MB/core" in w and str(HEAP_MB_PER_CORE_RULE) in w


def test_one_gb_per_core_is_silent():
    assert heap_rule_warning("local[32]", "32g") is None
    assert heap_rule_warning("local[8]", "8g") is None


def test_local_cluster_uses_worker_shape():
    # local-cluster[4,8,4096]: each worker JVM has 4096 MB over 8
    # slots = 512 MB/core → warn; [4,4,4096] = 1024 MB/core → silent
    assert heap_rule_warning("local-cluster[4,8,4096]", "8g") is not None
    assert heap_rule_warning("local-cluster[4,4,4096]", "8g") is None


def test_local_with_max_retries_field_parses():
    # Spark accepts local[N,maxRetries]; the rule must read N, not crash
    assert heap_rule_warning("local[4,2]", "8g") is None   # 2048 MB/core
    assert heap_rule_warning("local[32,3]", "8g") is not None
    assert heap_rule_warning("local[garbage]", "8g") is None  # Spark's error


def test_cluster_managers_are_out_of_scope():
    # executor sizing under a real manager belongs to spark-submit —
    # no false alarm from the driver-side default
    assert heap_rule_warning("yarn", "8g") is None
    assert heap_rule_warning("spark://host:7077", "8g") is None


@pytest.mark.parametrize(
    "bad",
    [
        "local-cluster[4, 8, 4096x]",
        "local-cluster[4;8;4096]",
        "local-cluster[4,8]",
        "local-cluster[a,b,c]",
    ],
)
def test_malformed_local_cluster_master_rejected(bad):
    """get_spark must reject malformed local-cluster masters loudly —
    the old rstrip/split parse turned 'local-cluster[4, 8, 4096]' into
    spark.executor.memory=' 4096m' and a confusing JVM startup failure
    (ADVICE r7). Whitespace around the fields is fine; anything else is
    a ValueError BEFORE any JVM is started."""
    from flink_wikipedia_spark.session import get_spark

    with pytest.raises(ValueError, match="local-cluster"):
        get_spark("tests-badmaster", master=bad)
