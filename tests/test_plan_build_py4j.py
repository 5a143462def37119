"""py4j round-trip ceilings for plan builders.

Driver plan-build time tracks the number of py4j round trips. These
builders build their expressions from Spark-SQL strings (one round trip
per expression, not one per DSL node); a ceiling catches a regression
back to per-node construction. Counted with the benchmark's
``Py4jCounter``, as the minimum over three warm builds: round trips
that land inside a build but are not the builder's own (releases of
garbage-collected Java objects, listener callbacks) vary from build to
build.
"""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE

CEILINGS = {
    "q_dedup_components": 450,
    "q_minhash_dedup_pairs": 250,
    "q_dedup_pipeline": 450,
}


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_builder_py4j_ceiling(spark, name):
    from flink_wikipedia_spark.plans import REGISTRY
    from flink_wikipedia_spark.plans.registry import release_caches
    from perfbench.layers import Py4jCounter

    build = REGISTRY[name].fn
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counts = []
    try:
        counter = Py4jCounter(spark)
        build(spark, SF_SMOKE)  # warm: first builds load tables and classes
        release_caches()
        for _ in range(3):
            before = counter.calls
            build(spark, SF_SMOKE)
            counts.append(counter.calls - before)
            release_caches()
    finally:
        client.send_command = send
    assert min(counts) <= CEILINGS[name], counts
