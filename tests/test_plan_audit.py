"""Physical-plan audit (scale discipline as a test): no query in the
registry may plan a CartesianProduct, and BroadcastNestedLoopJoin is
allowed only where a small broadcast side makes it the intended
physical op — the explicit allowlist below. A new query that
accidentally cross-joins two large inputs fails here before it ever
reaches a benchmark.
"""

from __future__ import annotations

import json
import re

import pytest

from flink_wikipedia_spark.plans import REGISTRY
from flink_wikipedia_spark.plans.window import (
    FAMILY_ANCHORS,
    FLAGSHIP,
    ROUND_CHANGED,
    WINDOW,
    load_history,
    rotate,
)

SF_DIR = "/root/testdata/sf0.001"

# Queries whose plans legitimately contain BroadcastNestedLoopJoin:
# every entry broadcasts a provably-small side (single-row scalar or a
# bounded kernel set), where BNLJ IS the efficient strategy.
BNLJ_ALLOWED = {
    "q_tfidf_top_terms",      # single-row corpus-count broadcast
    "q_similarity_topk",      # bounded query-vector kernel (brute-force baseline)
    "q_ann_ivf",              # small centroid table for coarse quantization
    "q_ivfpq_search",         # same coarse-assign centroid broadcast as q_ann_ivf
    "q_ann_ivfpq_refined",    # same coarse-assign broadcast, trained 16-row centroid table
    "q_semantic_dedup",       # same coarse-assign centroid broadcast as q_ann_ivf
    "q_embedding_neardup_kernel",  # bounded candidate kernel (LSH variant covers full corpus)
    "q_edit_distance_kernel",  # fixed tiny pair set
    "q_tpch_q22_dormant_accounts",  # single-row global-average broadcast
    "q_tpch_q11_important_stock",   # single-row stock-value-total broadcast
    "q_data_quality_audit",         # single-row checked-total broadcast per FK rule
}


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


@pytest.mark.parametrize(
    "name",
    sorted(n for n, qd in REGISTRY.items() if qd.alias_of is None),
)
def test_no_cartesian_and_bnlj_only_allowlisted(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a BroadcastNestedLoopJoin but is not allowlisted — "
            "either broadcast a provably-small side intentionally (and add it "
            "here with a reason) or fix the join keys"
        )


def test_driver_window_covers_every_family():
    """The driver's correctness gate reads only the FIRST 50 registry
    entries (CORRECTNESS_r01 stopped at slot 50) — losing a family from
    the window silently downgrades it to 'untested' in the next round's
    verdict. plans/window.py computes the window at import; these are
    the policy invariants every computed window must satisfy."""
    names = list(REGISTRY)[:WINDOW]
    assert WINDOW == 50 and len(names) == WINDOW
    assert names[0] == FLAGSHIP == "q_windowed_edit_size"  # flagship = entry()
    assert [n for n in FAMILY_ANCHORS if n not in names] == []
    assert [n for n in ROUND_CHANGED if n not in names] == []
    # semantic coverage: every operator family keeps AT LEAST ONE
    # in-window representative each round, whatever the rotation picks
    # (a family regression must never be able to hide behind rotation)
    semantic = {
        "text": ["q_word_count", "q_lang_stats", "q_posexplode_tokens",
                 "q_gopher_quality", "q_c4_quality", "q_fingerprint"],
        "curation": ["q_pii_redact", "q_hash_sample",
                     "q_stratified_sample", "q_shuffle_shards"],
        "dedup": ["q_dedup_docs_exact", "q_minhash_dedup_clusters",
                  "q_minhash_signatures", "q_ngram_jaccard_pairs"],
        "similarity": ["q_ann_ivf", "q_ivfpq_search",
                       "q_embedding_neardup_lsh", "q_semantic_dedup",
                       "q_similarity_lsh"],
        "multimodal": ["q_multimodal_decode", "q_multimodal_frames"],
        "streaming_twin": ["q_sessionize", "q_keyby_agg_edit_size",
                           "q_windowed_edit_size"],
        "relational": ["q_cube_orders", "q_rollup_event_value",
                       "q_setops_users", "q_pivot_user_event_values",
                       "q_antijoin_inactive_users",
                       "q_join_orders_customer", "q_asof_join",
                       "q_gapfill_rollup", "q_snapshot_merge"],
        "tpch": ["q_tpch_q10_returned_items", "q_tpch_q13_order_histogram",
                 "q_tpch_q14_promo_share",
                 "q_tpch_q4_priority_with_big_lines",
                 "q_tpch_q1_pricing_summary", "q_tpch_q7_volume_shipping",
                 "q_tpch_q9_nation_year_profit",
                 "q_tpch_q16_supplier_variety",
                 "q_tpch_q17_small_quantity_revenue",
                 "q_tpch_q18_large_orders",
                 "q_tpch_q19_disjunctive_revenue",
                 "q_tpch_q21_sole_late_supplier"],
        "functions": ["q_window_share_of_segment", "q_user_event_gaps",
                      "q_median_value", "q_value_moment_stats",
                      "q_rank_functions", "q_running_total",
                      "q_window_navigation", "q_distribution_ranks",
                      "q_date_functions", "q_corr_quantity_price"],
        "iterative_graph": ["q_pagerank_parts_suppliers",
                            "q_pagerank_converged", "q_dedup_components"],
        "core": ["q_filter_events", "q_json_extract",
                 "q_windowed_edit_size"],
    }
    unrepresented = [fam for fam, qs in semantic.items()
                     if not any(q in names for q in qs)]
    assert not unrepresented, (
        f"operator families with NO in-window representative: {unrepresented}"
    )


def test_rotate_is_deterministic_for_a_fixed_history(tmp_path):
    """Slot order on a synthetic registry: flagship, never-passed names,
    changed names, family anchors, then stalest passing evidence."""
    fill = [f"q_t{i:02d}" for i in range(45)]
    names = [*fill, *FAMILY_ANCHORS, FLAGSHIP]
    passed = {"hash_match": True, "spark_rows": 1, "err": None}
    # odd fillers last passed in r01, even ones and q_t01 (rows-only)
    # in r02; q_t43 only ever failed and q_t44 never ran, so both count
    # as never checked
    r01 = {n: passed for n in [FLAGSHIP, *FAMILY_ANCHORS, *fill[1:43:2]]}
    r01["q_t43"] = {"hash_match": False, "spark_rows": 1, "err": None}
    r02 = {n: passed for n in fill[0:43:2]}
    r02["q_t01"] = {"hash_match": None, "spark_rows": 3, "err": "no_oracle"}
    for rnd, rows in (("01", r01), ("02", r02)):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))

    window = rotate(names, load_history(tmp_path), ["q_t05", "q_t03"])

    r01_band = [n for n in fill[1:43:2] if n not in ("q_t01", "q_t03", "q_t05")]
    r02_band = sorted([*fill[0:43:2], "q_t01"])
    assert window == [
        FLAGSHIP, "q_t43", "q_t44", "q_t03", "q_t05", *FAMILY_ANCHORS,
        *r01_band, *r02_band,
    ][:WINDOW]


def test_window_without_history_is_valid(tmp_path):
    window = rotate(list(REGISTRY), load_history(tmp_path), ROUND_CHANGED)
    assert len(set(window)) == WINDOW and window[0] == FLAGSHIP
    assert set(window) <= set(REGISTRY)


def test_unreadable_history_file_fails_loudly(tmp_path):
    (tmp_path / "CORRECTNESS_r99.json").write_text('{"q_x": {')
    with pytest.raises(ValueError, match="CORRECTNESS_r99.json"):
        load_history(tmp_path)


def test_no_oracle_uses_nonportable_decimal_to_double():
    """Every decimal-sum → double conversion in an oracle must go
    through the portable floor/frac split (functions/compat.py
    sql_dec_sum_duckdb): a bare CAST(SUM(CAST(... AS DECIMAL)) AS
    DOUBLE) double-rounds past 2^53 and diverges from Spark by one ulp
    — exactly the sf1 TPC-H Q1 incident. A FLOOR-free match here means
    someone added an oracle with the old pattern.

    Two forms are flagged (ADVICE r6: the alias form previously evaded
    the audit entirely once subquery refactors routed sums through
    aliases):

    1. direct: CAST(SUM(... AS DECIMAL ...) [OVER (...)] AS DOUBLE)
    2. aliased: CAST(<ident> AS DOUBLE) where <ident> was assigned from
       SUM(CAST(... AS DECIMAL(>0 scale)...)) earlier in the same oracle
    """

    def _walk_parens(upper: str, start: int) -> int:
        """Index just past the ')' closing the paren opened before start."""
        depth, j = 1, start
        while j < len(upper) and depth:
            if upper[j] == "(":
                depth += 1
            elif upper[j] == ")":
                depth -= 1
            j += 1
        return j

    def decimal_sum_aliases(upper: str) -> set:
        """Aliases assigned from a scale>0 decimal SUM: SUM(...DECIMAL...)
        [OVER (...)] AS <ident>."""
        out, i = set(), 0
        while True:
            i = upper.find("SUM(", i)
            if i == -1:
                return out
            j = _walk_parens(upper, i + len("SUM("))
            inner = upper[i + len("SUM(") : j - 1]
            i = j
            if "AS DECIMAL" not in inner or "DECIMAL(38,0)" in inner:
                continue
            rest = upper[j:]
            m = re.match(r"\s*OVER\s*\(", rest)
            if m:
                rest = rest[_walk_parens(rest, m.end()) :]
            m = re.match(r"\s*AS\s+([A-Z_][A-Z0-9_]*)", rest)
            if m:
                out.add(m.group(1))

    def bare_casts(sql: str) -> bool:
        """True iff the SQL contains CAST(<expr> AS DOUBLE) where <expr>
        is a decimal SUM (directly, or via an alias defined in the same
        oracle) and is not FLOOR-guarded — walks parens, so the window
        form CAST(SUM(...) OVER (...) AS DOUBLE) is caught too."""
        upper = sql.upper()
        aliases = decimal_sum_aliases(upper)
        i = 0
        while True:
            i = upper.find("CAST(", i)
            if i == -1:
                return False
            inner_start = i + len("CAST(")
            j = _walk_parens(upper, inner_start)
            inner = upper[inner_start : j - 1]
            i = inner_start
            if not inner.rstrip().endswith("AS DOUBLE"):
                continue
            # the split form's terms CAST(FLOOR(S) AS DOUBLE) and
            # CAST(S - FLOOR(S) AS DOUBLE) are the portable pattern —
            # FLOOR inside the expression marks both as already safe
            if "FLOOR" in inner:
                continue
            expr = inner.rstrip()[: -len("AS DOUBLE")].strip()
            # scale-0 decimals are exempt from the direct form: with no
            # /10^scale step the direct cast is ONE correctly-rounded
            # int->double on both engines — the hazard needs scale > 0
            if expr.startswith("SUM(") and "DECIMAL(38,0)" not in inner:
                return True
            if re.fullmatch(r"[A-Z_][A-Z0-9_]*", expr) and expr in aliases:
                return True
    offenders = [
        name
        for name, qd in REGISTRY.items()
        if qd.oracle is not None and bare_casts(qd.oracle)
    ]
    assert not offenders, (
        f"non-portable decimal→double conversion in oracles: {offenders} "
        "— use functions.compat.sql_dec_sum_duckdb"
    )


def test_q21_single_scan_per_fact(spark):
    """Q21 regression: the EXISTS/NOT-EXISTS pair must stay a one-pass
    window plan. The earlier join-back formulation planned the
    lineitem⋈orders join TWICE (the countDistinct exchange carries
    partial-agg rows, so the probe side could not reuse it), doubling
    the dominant fact shuffle — at sf100 the duplication exhausted
    local disk. Each fact file may appear exactly once in the plan."""
    plan = _plan(spark, "q_tpch_q21_sole_late_supplier")
    assert plan.count("lineitem.parquet") == 1, "lineitem scanned more than once"
    assert plan.count("orders.parquet") == 1, "orders scanned more than once"


def test_q16_lineitem_reaches_count_distinct_without_shuffle(spark):
    """Q16 regression: COUNT(DISTINCT l_suppkey) already collapses
    duplicate (partkey, suppkey) pairs, so lineitem flows through the
    part join into the first partial HashAggregate with no Exchange.
    Re-adding a pair pre-distinct puts an aggregate and a shuffle of
    every lineitem pair below the join."""
    lines = _plan(spark, "q_tpch_q16_supplier_variety").splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    i = next(k for k, line in enumerate(lines) if "lineitem.parquet" in line)
    path, d = [], depth(lines[i])  # operators from the scan up to the aggregate
    for line in reversed(lines[:i]):
        if depth(line) < d:
            d = depth(line)
            path.append(re.match(r"(?:\*\(\d+\) )?(\w+)", line[d:]).group(1))
            if path[-1] == "HashAggregate":
                break
    assert path[-1] == "HashAggregate", path
    assert any(op.endswith("Join") for op in path), path
    assert "Exchange" not in path, path
