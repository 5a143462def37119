"""Bucket-count deployment guards (ADVICE r11): the auto-derived count
is logged, validate_bucket_count pins a count to a checkpoint so a
resize-induced mismatch fails loudly instead of re-sharding state, and
a count below 1 or a checkpoint the sidecar cannot sit beside raises
before any Spark job runs."""

from __future__ import annotations

import logging

import pytest

from flink_wikipedia_spark.streaming.stateful import (
    default_bucket_count,
    resolve_bucket_count,
    running_domain_totals_bucketed,
    validate_bucket_count,
)


def test_validate_pins_then_accepts_same(tmp_path):
    ck = str(tmp_path / "ck")
    assert validate_bucket_count(ck, 1024) == 1024
    assert (tmp_path / "ck" / "_bucket_count").read_text().strip() == "1024"
    assert validate_bucket_count(ck, 1024) == 1024  # idempotent resume


def test_validate_rejects_mismatch(tmp_path):
    ck = str(tmp_path / "ck")
    validate_bucket_count(ck, 1024)
    with pytest.raises(ValueError, match="1024"):
        validate_bucket_count(ck, 2048)


def test_resolve_logs_derived_count(spark, caplog):
    df = spark.range(1)
    with caplog.at_level(logging.WARNING,
                         logger="flink_wikipedia_spark.streaming.stateful"):
        derived = resolve_bucket_count(df, None, None, operator="op-under-test")
    expected = default_bucket_count(spark.sparkContext.defaultParallelism)
    assert derived == expected
    assert any(
        "op-under-test" in r.message and str(derived) in r.message
        for r in caplog.records
    )


def test_resolve_explicit_is_silent(spark, caplog):
    df = spark.range(1)
    with caplog.at_level(logging.WARNING,
                         logger="flink_wikipedia_spark.streaming.stateful"):
        assert resolve_bucket_count(df, 512, None, operator="op") == 512
    assert not caplog.records


def test_validate_resolves_file_uri_to_local_path(tmp_path, monkeypatch):
    # the sidecar must land beside Spark's checkpoint, not in a
    # "file:" directory below the working directory
    monkeypatch.chdir(tmp_path)
    ck = tmp_path / "ck uri"
    assert validate_bucket_count(ck.as_uri(), 8) == 8
    assert (ck / "_bucket_count").read_text().strip() == "8"
    assert validate_bucket_count(f"file:{ck}", 8) == 8  # Hadoop form
    with pytest.raises(ValueError, match="8"):
        validate_bucket_count(ck.as_uri(), 16)
    assert not (tmp_path / "file:").exists()


@pytest.mark.parametrize("uri", ["s3a://bucket/ck", "hdfs:///ck", "file://host/ck"])
def test_validate_rejects_non_local_uri(tmp_path, monkeypatch, uri):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local"):
        validate_bucket_count(uri, 8)
    assert list(tmp_path.iterdir()) == []  # nothing written anywhere


@pytest.mark.parametrize("buckets", [0, -2])
def test_validate_rejects_count_below_one(tmp_path, buckets):
    ck = tmp_path / "ck"
    with pytest.raises(ValueError, match=">= 1"):
        validate_bucket_count(str(ck), buckets)
    assert not ck.exists()  # no sidecar pinned a bad count


@pytest.mark.parametrize("buckets", [0, -2])
def test_resolve_rejects_count_below_one(spark, buckets):
    with pytest.raises(ValueError, match=">= 1"):
        resolve_bucket_count(spark.range(1), buckets, None, operator="op")
    # the operator refuses at plan build, before any query starts
    df = spark.createDataFrame(
        [("a.org", 0, 1)], "domain string, old_length long, new_length long"
    )
    with pytest.raises(ValueError, match=">= 1"):
        running_domain_totals_bucketed(df, buckets=buckets)
