"""Round-9 hardening pins.

1) ADVICE r8 on tools/verify_split.py: the staged-oracle splitter must
   anchor WITH at the statement START (a nested/quoted/commented WITH is
   not a CTE header), survive /* */ block comments, match CTE liveness
   case-insensitively (DuckDB identifiers are case-insensitive), and
   never early-drop a CTE whose name shadows a base view.
2) VERDICT r8 item 3: cache release is automatic — running
   q_pagerank_parts_suppliers via the PUBLIC registry and consuming the
   result leaves zero persistent RDDs behind, with no caller calling
   release_caches(). And the listener must NOT strip a cache intent
   that hasn't materialized yet (an unrelated action fires the same
   listener).
"""

from __future__ import annotations

import importlib.util
import os
import time

import duckdb
import pytest

from tests.conftest import SF_SMOKE

_TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)


def _load_split():
    spec = importlib.util.spec_from_file_location(
        "verify_split_r9", os.path.join(_TOOLS, "verify_split.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_nested_with_is_not_a_cte_header():
    vs = _load_split()
    sql = "SELECT * FROM (WITH t AS (SELECT 1 AS x) SELECT x FROM t)"
    ctes, final = vs.split_ctes(sql)
    assert ctes == [] and final == sql
    # and run_staged on the untouched statement still evaluates it
    assert vs.run_staged(duckdb.connect(), sql).iloc[0, 0] == 1


def test_with_inside_string_or_comment_is_not_a_header():
    vs = _load_split()
    for sql in (
        "SELECT 'WITH a AS (SELECT 1)' AS s",
        "SELECT 2 AS v -- WITH x AS (...)\n",
        "/* WITH x AS (SELECT 1) */ SELECT 3 AS v",
    ):
        ctes, final = vs.split_ctes(sql)
        assert ctes == [], sql
        assert final == sql


def test_leading_comments_then_with_still_stages():
    vs = _load_split()
    sql = """
    -- line comment first
    /* then a block comment
       with (unbalanced parens and the word WITH inside */
    WITH a AS (SELECT 1 AS x /* inner block ( comment */),
    b AS (SELECT x + 1 AS y FROM a)
    SELECT y FROM b
    """
    ctes, final = vs.split_ctes(sql)
    assert [n for n, _ in ctes] == ["a", "b"]
    assert vs.run_staged(duckdb.connect(), sql).iloc[0, 0] == 2


def test_unterminated_block_comment_is_loud():
    vs = _load_split()
    with pytest.raises(ValueError, match="unterminated"):
        vs.split_ctes("WITH a AS (SELECT 1 /* oops) SELECT 1")


def test_liveness_is_case_insensitive():
    """Old scanner matched CTE references case-sensitively; ALPHA below
    would not keep Alpha alive and the final SELECT failed loudly."""
    vs = _load_split()
    sql = (
        "WITH Alpha AS (SELECT 5 AS v), pad AS (SELECT 1 AS z) "
        "SELECT v FROM ALPHA"
    )
    assert vs.run_staged(duckdb.connect(), sql).iloc[0, 0] == 5


def test_base_view_shadow_is_never_dropped_early():
    """A CTE named like a base view must survive until the statement
    ends: dropping it early silently rebinds later references to the
    base view — the one failure mode that is wrong instead of loud."""
    vs = _load_split()
    con = duckdb.connect()
    con.sql("CREATE VIEW orders AS SELECT 1 AS v")  # the decoy base view
    sql = (
        "WITH ORDERS AS (SELECT 99 AS v), pad AS (SELECT 0 AS z) "
        "SELECT v FROM orders"
    )
    assert vs.run_staged(con, sql).iloc[0, 0] == 99


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
