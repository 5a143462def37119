"""The staged oracle executor (tools/verify_split.py) must be exactly
equivalent to monolithic execution: the sf100 pagerank oracle only fits
the box when run statement-at-a-time, so the splitter's correctness IS
the correctness of that evidence.

The splitter anchors WITH at the statement START (a nested, quoted or
commented WITH is not a CTE header), survives /* */ block comments,
matches CTE liveness case-insensitively (DuckDB identifiers are
case-insensitive), and never early-drops a CTE whose name shadows a
base view."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load():
    spec = importlib.util.spec_from_file_location(
        "verify_split", os.path.join(_TOOLS, "verify_split.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_split_ctes_handles_comments_and_nesting():
    vs = _load()
    sql = """
    WITH a AS MATERIALIZED (
        -- comment with unbalanced parens: f(x, g(y
        SELECT 1 AS x
    ),
    -- top-level comment between CTEs: also (unbalanced
    b AS (SELECT x + 1 AS y FROM a WHERE 'lit with ) paren' != ''),
    c AS MATERIALIZED (SELECT y FROM b)
    SELECT y FROM c
    """
    ctes, final = vs.split_ctes(sql)
    assert [n for n, _ in ctes] == ["a", "b", "c"]
    assert final.strip() == "SELECT y FROM c"
    con = duckdb.connect()
    assert vs.run_staged(con, sql).iloc[0, 0] == 2


def test_non_with_query_passes_through():
    vs = _load()
    ctes, final = vs.split_ctes("SELECT 42 AS v")
    assert ctes == [] and final == "SELECT 42 AS v"


@pytest.mark.parametrize("sql", ["WITH a AS", "WITH a AS MATERIALIZED", "WITH a AS  "])
def test_truncated_statement_raises_valueerror(sql):
    """ADVICE r9: a statement truncated right after AS/MATERIALIZED must
    fail with the documented ValueError class, not IndexError — the
    'violations raise, never silently mis-split' contract names
    ValueError paths."""
    vs = _load()
    with pytest.raises(ValueError, match="expected \\( for CTE a"):
        vs.split_ctes(sql)


@pytest.mark.parametrize("name", ["q_pagerank_parts_suppliers", "q_dedup_components"])
def test_staged_equals_monolithic_on_real_oracles(name):
    """Stage-by-stage execution must be bit-identical to the single
    statement on real registered oracles (heavy CTE chains)."""
    vs = _load()
    import sys

    sys.path.insert(0, os.path.dirname(_TOOLS))
    from flink_wikipedia_spark.plans import REGISTRY
    from flink_wikipedia_spark.schemas import ALL_TABLES

    sql = REGISTRY[name].oracle
    results = []
    for mode in ("mono", "staged"):
        con = duckdb.connect()
        for t in ALL_TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'/root/testdata/sf0.001/{t}.parquet'"
            )
        df = vs.run_staged(con, sql) if mode == "staged" else con.sql(sql).df()
        cols = sorted(df.columns)
        results.append(df[cols].sort_values(cols).reset_index(drop=True))
        con.close()
    assert results[0].equals(results[1])


def test_nested_with_is_not_a_cte_header():
    vs = _load()
    sql = "SELECT * FROM (WITH t AS (SELECT 1 AS x) SELECT x FROM t)"
    ctes, final = vs.split_ctes(sql)
    assert ctes == [] and final == sql
    # and run_staged on the untouched statement still evaluates it
    assert vs.run_staged(duckdb.connect(), sql).iloc[0, 0] == 1


def test_with_inside_string_or_comment_is_not_a_header():
    vs = _load()
    for sql in (
        "SELECT 'WITH a AS (SELECT 1)' AS s",
        "SELECT 2 AS v -- WITH x AS (...)\n",
        "/* WITH x AS (SELECT 1) */ SELECT 3 AS v",
    ):
        ctes, final = vs.split_ctes(sql)
        assert ctes == [], sql
        assert final == sql


def test_leading_comments_then_with_still_stages():
    vs = _load()
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
    vs = _load()
    with pytest.raises(ValueError, match="unterminated"):
        vs.split_ctes("WITH a AS (SELECT 1 /* oops) SELECT 1")


def test_liveness_is_case_insensitive():
    """Old scanner matched CTE references case-sensitively; ALPHA below
    would not keep Alpha alive and the final SELECT failed loudly."""
    vs = _load()
    sql = (
        "WITH Alpha AS (SELECT 5 AS v), pad AS (SELECT 1 AS z) "
        "SELECT v FROM ALPHA"
    )
    assert vs.run_staged(duckdb.connect(), sql).iloc[0, 0] == 5


def test_base_view_shadow_is_never_dropped_early():
    """A CTE named like a base view must survive until the statement
    ends: dropping it early silently rebinds later references to the
    base view — the one failure mode that is wrong instead of loud."""
    vs = _load()
    con = duckdb.connect()
    con.sql("CREATE VIEW orders AS SELECT 1 AS v")  # the decoy base view
    sql = (
        "WITH ORDERS AS (SELECT 99 AS v), pad AS (SELECT 0 AS z) "
        "SELECT v FROM orders"
    )
    assert vs.run_staged(con, sql).iloc[0, 0] == 99
