"""operators.graph.pagerank: local-vs-distributed path equality and
convergence semantics.

The driver's oracle gate proves the guarded (local) path against
DuckDB; these tests force the DISTRIBUTED path with
``small_graph_edges=0`` and pin that both paths produce bit-identical
ranks AND the same stopping round — the property that makes the
bounded small-graph guard a pure optimization, never a semantic fork.
The budget-mode persist must also be tracked and released: running
q_pagerank_parts_suppliers via the public registry and consuming the
result leaves no persistent RDD behind with no caller calling
release_caches(), and the release listener never strips a cache intent
that has not materialized yet (an unrelated action fires the same
listener).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_wikipedia_spark.operators.graph import pagerank
from tests.conftest import SF_SMOKE

UNIT = 1_000_000


def _withdeg(spark, pairs):
    """Mirrored, degreed edge list from (a, b) pairs (a even, b odd)."""
    df = spark.createDataFrame(pairs, "a long, b long")
    fwd = df.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    rev = df.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    return fwd.union(rev).withColumn(
        "d", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )


PAIRS = [
    # two components: a hub (0 connected to 1,3,5,7) and a chain-ish
    # pair sharing node 9; asymmetric degrees so ranks actually move
    (0, 1), (0, 3), (0, 5), (0, 7),
    (2, 1), (2, 9),
    (4, 9),
]


def test_paths_bit_identical_convergence_mode(spark):
    """eps mode is where the small-graph guard applies (budget mode is
    always the lazy distributed ladder — probing a lazy plan's size
    would cost a full materialization)."""
    wd = _withdeg(spark, PAIRS)
    kw = dict(
        unit=UNIT, base=500_000, damp_num=500, damp_den=1000,
        max_iters=40, eps=10_000,
    )
    local_df, local_n = pagerank(wd, **kw)  # 14 edges -> guarded path
    dist_df, dist_n = pagerank(wd, **kw, small_graph_edges=0)
    assert local_n == dist_n
    local = dict(local_df.collect())
    dist = dict(dist_df.collect())
    assert local == dist
    assert len(local) == 8  # every node of either parity ranked


def test_budget_ladder_matches_local_twin(spark):
    """Budget mode (lazy distributed ladder) must equal the numpy twin
    run directly — the same bit-identity the guard relies on in eps
    mode, pinned for the fixed-iteration semantics too."""
    import numpy as np

    from flink_wikipedia_spark.operators.graph import _local_pagerank

    wd = _withdeg(spark, PAIRS)
    ladder, n = pagerank(
        wd, unit=UNIT, base=150_000, damp_num=850, damp_den=1000,
        max_iters=3, eps=None,
    )
    assert n == 3
    pdf = wd.select("src", "dst", "d").toPandas()
    (nodes, ranks), _ = _local_pagerank(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), pdf["d"].to_numpy(),
        UNIT, 150_000, 850, 1000, 3, None,
    )
    assert dict(ladder.collect()) == dict(
        zip(nodes.tolist(), ranks.tolist())
    )


def test_convergence_stops_before_budget(spark):
    wd = _withdeg(spark, PAIRS)
    _, n = pagerank(
        wd, unit=UNIT, base=500_000, damp_num=500, damp_den=1000,
        max_iters=40, eps=10_000,
    )
    assert 1 < n < 40  # early exit actually fired


def test_budget_exhaustion_raises_on_both_paths(spark):
    wd = _withdeg(spark, PAIRS)
    kw = dict(
        unit=UNIT, base=150_000, damp_num=850, damp_den=1000,
        max_iters=2, eps=0,  # exact fixed point unreachable in 2 rounds
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        pagerank(wd, **kw)
    with pytest.raises(RuntimeError, match="did not converge"):
        pagerank(wd, **kw, small_graph_edges=0)


def test_budget_mode_runs_exactly_max_iters(spark):
    wd = _withdeg(spark, PAIRS)
    ranks, n = pagerank(
        wd, unit=UNIT, base=150_000, damp_num=850, damp_den=1000,
        max_iters=2, eps=None,
    )
    assert n == 2
    vals = dict(ranks.collect())
    assert len(vals) == 8 and all(v > 0 for v in vals.values())


def test_local_path_rejects_one_directional_edges(spark):
    df = spark.createDataFrame([(0, 1), (2, 1)], "src long, dst long")
    wd = df.withColumn("d", F.lit(1))
    with pytest.raises(ValueError, match="both directions"):
        pagerank(
            wd, unit=UNIT, base=500_000, damp_num=500, damp_den=1000,
            max_iters=2, eps=10_000,  # eps mode: the guarded local path
        )


def test_two_round_delta_converges_through_period2_cycle():
    """Regression pin for the r12 sf100 find: a bipartite hub graph at
    production hub degree sustains an integer-quantized PERIOD-2 rank
    cycle whose SINGLE-round delta plateaus (~hub_degree/2 micro-units)
    above any fixed eps forever; the operator's TWO-round delta is
    blind to the oscillation and must converge. This is the exact sf100
    supplier-graph shape (25 hubs x 40K spokes), driven through the
    numpy twin — no Spark session, ~1.5 s."""
    import numpy as np

    from flink_wikipedia_spark.operators.graph import _local_pagerank

    H, D = 25, 40_000
    hubs = np.repeat(np.arange(H) * 2, D)
    spokes = np.arange(H * D) * 2 + 1
    src = np.concatenate([hubs, spokes])
    dst = np.concatenate([spokes, hubs])
    deg = np.concatenate([np.full(H * D, D), np.ones(H * D)])
    (nodes, ranks), n = _local_pagerank(
        src, dst, deg, 1_000_000, 500_000, 500, 1000, 40, 10_000
    )
    # converges inside the budget, at the round the sf100 gate measured
    assert n == 22
    assert len(nodes) == H * D + H
    # and the 2-cycle is real: the single-round delta at the stop is
    # still far above eps (the plateau the old stop never escaped)
    sums = np.zeros(len(nodes), dtype=np.int64)
    src_idx = np.searchsorted(nodes, src)
    dst_idx = np.searchsorted(nodes, dst)
    np.add.at(sums, dst_idx, ranks[src_idx] // deg.astype(np.int64))
    nxt = 500_000 + (500 * sums) // 1000
    assert int(np.abs(nxt - ranks).max()) > 10_000


def test_pagerank_cache_is_tracked_and_released(spark):
    """q_pagerank_parts_suppliers persists its degreed edge list for the
    iteration loop; the persist must be tracked so release_caches() can
    free it after the caller consumes the result — without it every
    pagerank call leaked a fact-sized cached frame into the session.
    (Budget-mode pagerank is ALWAYS the lazy distributed ladder — the
    r12 small-graph guard applies only in convergence mode — so this
    pins the production path, no forcing needed.)"""
    from flink_wikipedia_spark.plans import REGISTRY
    from flink_wikipedia_spark.plans.registry import _LIVE_CACHES, release_caches

    release_caches()  # clean slate (other tests may have run queries)
    # other tests' own persists (and CacheManager plan-matching) are
    # session-global — clear the SQL caches and snapshot the residue
    # (RDD-level localCheckpoint blocks from the graph loop survive
    # clearCache and are reclaimed only by GC): the end-state assertion
    # is a DELTA against this baseline (round-9 full-suite lesson)
    spark.catalog.clearCache()
    baseline = _persistent_ids(spark)
    df = REGISTRY["q_pagerank_parts_suppliers"].fn(spark, SF_SMOKE)
    assert len(_LIVE_CACHES) == 1, "pagerank must register exactly one cache"
    cached = _LIVE_CACHES[0]
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    df.count()  # the action that materializes (and caches) the edge list
    # Round 9 made release automatic (an async QueryExecutionListener
    # may free the cache before we do) — the invariant is the
    # post-state, not which path released: after a synchronous
    # release_caches() nothing is tracked and nothing NEW stays
    # persistent.
    release_caches()
    assert not _LIVE_CACHES
    deadline = time.time() + 10
    while time.time() < deadline and not (_persistent_ids(spark) <= baseline):
        time.sleep(0.2)
    assert _persistent_ids(spark) <= baseline


def _persistent_ids(spark) -> set:
    """Ids of currently persistent RDDs. Assertions below are DELTAS
    against a pre-test snapshot, never a global ==0: other suite tests
    leave RDD-LEVEL persists behind (e.g. the graph loop's
    localCheckpoint blocks) that catalog.clearCache() cannot remove and
    whose cleanup is ContextCleaner/GC-driven — a shared session is
    never reliably at zero."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def _clean_slate(spark) -> set:
    """Reset what CAN be reset (tracked caches + SQL CacheManager —
    plan-matching could otherwise hand this test an already-MATERIALIZED
    cache for the same canonicalized pagerank plan) and snapshot the
    irreducible persistent-RDD residue as the assertion baseline."""
    from flink_wikipedia_spark.plans import registry as regmod

    regmod.release_caches()
    spark.catalog.clearCache()
    return _persistent_ids(spark)


def test_pagerank_via_registry_leaves_no_persistent_rdds(spark):
    """VERDICT r8 Done criterion: an embedding app that only knows the
    public registry runs pagerank, consumes the result, and the session
    holds zero persistent RDDs afterwards — release is listener-driven,
    not a caller contract."""
    baseline = _clean_slate(spark)
    from flink_wikipedia_spark.plans import REGISTRY
    from flink_wikipedia_spark.plans import registry as regmod

    df = REGISTRY["q_pagerank_parts_suppliers"].fn(spark, SF_SMOKE)
    assert df.count() > 0  # materializes the tracked edge-list cache
    # The listener fires on the async listener bus; poll briefly.
    deadline = time.time() + 30
    while time.time() < deadline:
        if _persistent_ids(spark) <= baseline and not regmod._LIVE_CACHES:
            break
        time.sleep(0.25)
    assert _persistent_ids(spark) <= baseline, "pagerank left a new persistent RDD"
    assert regmod._LIVE_CACHES == []


def test_unrelated_action_keeps_unmaterialized_cache_intent(spark):
    """Building pagerank tracks a persist INTENT; an action on an
    unrelated DataFrame fires the listener but must not unpersist a
    cache that never materialized (the tracked frame's own action is
    still coming and relies on it)."""
    baseline = _clean_slate(spark)
    from flink_wikipedia_spark.plans import REGISTRY
    from flink_wikipedia_spark.plans import registry as regmod

    df = REGISTRY["q_pagerank_parts_suppliers"].fn(spark, SF_SMOKE)
    assert len(regmod._LIVE_CACHES) >= 1
    spark.range(10).count()  # unrelated action → listener fires
    time.sleep(2.0)  # let the async listener drain
    assert len(regmod._LIVE_CACHES) >= 1, (
        "listener stripped an unmaterialized cache intent"
    )
    # now consume pagerank itself; the listener reclaims everything
    assert df.count() > 0
    deadline = time.time() + 30
    while time.time() < deadline:
        if _persistent_ids(spark) <= baseline and not regmod._LIVE_CACHES:
            break
        time.sleep(0.25)
    assert _persistent_ids(spark) <= baseline


def test_release_caches_stays_synchronous_for_gates(spark):
    """bench/verify call release_caches() directly between queries; the
    synchronous path must still free a materialized cache immediately
    (no listener dependency) and report the count."""
    baseline = _clean_slate(spark)
    from flink_wikipedia_spark.plans import REGISTRY
    from flink_wikipedia_spark.plans import registry as regmod

    df = REGISTRY["q_pagerank_parts_suppliers"].fn(spark, SF_SMOKE)
    df.count()
    # the async listener may already have freed it; either way, after
    # the synchronous call nothing tracked or persistent remains
    regmod.release_caches()
    assert regmod._LIVE_CACHES == []
    deadline = time.time() + 10
    while time.time() < deadline and not (_persistent_ids(spark) <= baseline):
        time.sleep(0.2)
    assert _persistent_ids(spark) <= baseline


def test_release_caches_survives_stopped_session():
    """release_caches() must be safe to call on frames whose session is
    gone (embedding drivers often tear down Spark first)."""
    from flink_wikipedia_spark.plans.registry import _LIVE_CACHES, release_caches

    class _Dead:
        def unpersist(self):
            raise RuntimeError("JVM gone")

    _LIVE_CACHES.append(_Dead())
    assert release_caches() == 0  # swallowed, not raised
    assert not _LIVE_CACHES
