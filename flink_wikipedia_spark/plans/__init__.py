"""Query plans — the engine's public query surface.

``registry.py`` holds the name → (Spark builder, DuckDB oracle) mapping
that ``__spark_entry__.py`` exposes to the driver. Importing this
package populates the registry from every query module.
"""

from pathlib import Path

from flink_wikipedia_spark.plans.registry import REGISTRY, QueryDef, alias, query
from flink_wikipedia_spark.plans.window import ROUND_CHANGED, load_history, rotate

# Import for side effect: each module registers its queries.
from flink_wikipedia_spark.plans import queries_core  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_relational  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_tpch  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_functions  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_text  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_dedup  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_similarity  # noqa: E402,F401
from flink_wikipedia_spark.plans import queries_curation  # noqa: E402,F401

# SURVEY.md §2 names the O5 and E6 inventory queries differently than
# their primary registrations; register the survey names as aliases so
# a line-by-line inventory check resolves either name. Registered
# BEFORE the reorder so the window may place them.
alias("q_filter_human_main", "q_filter_events")
alias("q_antijoin_inactive_users", "q_antijoin_quiet_customers")


def _reorder() -> None:
    # The driver's correctness gate verifies the first WINDOW registry
    # entries, so registration order is part of the contract (window.py).
    repo = Path(__file__).resolve().parents[2]
    first = rotate(list(REGISTRY), load_history(repo), ROUND_CHANGED)
    ordered = {n: REGISTRY[n] for n in dict.fromkeys([*first, *REGISTRY])}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder()

__all__ = ["REGISTRY", "QueryDef", "alias", "query"]
