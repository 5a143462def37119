"""The driver correctness window: which registry names come first.

The driver's correctness gate verifies only the FIRST ``WINDOW``
registry entries, so registration order decides which queries earn
fresh driver evidence each round. ``plans/__init__`` reorders the
registry at import with :func:`rotate` over the committed
``CORRECTNESS_r*.json`` history plus :data:`ROUND_CHANGED`; the window
is then ``list(REGISTRY)[:WINDOW]``. Slot order:

  1. the flagship ``q_windowed_edit_size`` (it is ``entry()``);
  2. names with no passing driver record (new queries) — zero evidence
     is the stalest possible evidence;
  3. ``ROUND_CHANGED`` — changed code with only stale evidence is
     untested code;
  4. one anchor per operator family, so a family regression can never
     hide behind rotation;
  5. the stalest evidence first (newest passing round per name,
     ascending; ties alphabetical).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterable, Sequence

FLAGSHIP = "q_windowed_edit_size"

# Rule 4: one canonical anchor per semantic family checked by
# tests/test_plan_audit.py, so that invariant holds by construction
# rather than by rule-5 luck.
FAMILY_ANCHORS = (
    "q_filter_events",           # core
    "q_json_extract",            # core / JSON
    "q_word_count",              # text
    "q_pii_redact",              # curation
    "q_dedup_docs_exact",        # dedup
    "q_multimodal_decode",       # multimodal
    "q_similarity_lsh",          # similarity / ANN
    "q_join_orders_customer",    # relational joins
    "q_tpch_q1_pricing_summary", # TPC-H suite
    "q_rank_functions",          # analytic window functions
    "q_dedup_components",        # iterative graph
    "q_keyby_agg_edit_size",     # streaming twin
)

# Rule 3, the one hand-kept policy input: registered names whose
# builders changed since the newest CORRECTNESS_r*.json and that have
# no passing record in it. Update it in the commit that changes a
# builder.
ROUND_CHANGED: tuple[str, ...] = (
    "q_ann_ivfpq_refined",          # expression corpus-encode form deleted
    "q_dedup_canonical",            # components checkpoint one direction
    "q_dedup_components",           # components checkpoint one direction
    "q_dedup_pipeline",             # MinHash candidate plan as SQL strings
    "q_minhash_dedup_clusters",     # MinHash band rows as SQL strings
    "q_minhash_dedup_pairs",        # MinHash candidate plan as SQL strings
    "q_minhash_signatures",         # MinHash signatures as SQL strings
    "q_pq_codes",                   # code argmin/pack as SQL strings
    "q_semantic_dedup",             # ivf_assign projection as a SQL string
    "q_tfidf_top_terms",            # scan spread reverted to load_table
    "q_tpch_q16_supplier_variety",  # pair pre-distinct removed
)

WINDOW = 50


def load_history(repo: str | os.PathLike) -> dict[str, int]:
    """Newest round with a passing driver record, per query name, from
    ``repo``'s CORRECTNESS_r*.json files. No files gives an empty
    history (an installed package ships none); a file that does not
    parse raises ValueError naming it."""
    newest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except ValueError as e:
            raise ValueError(f"unreadable correctness history {path}: {e}") from e
        for name, rec in rows.items():
            # Only a passing record is fresh evidence, so a failed run
            # keeps the name in line for the next window. Passing =
            # hash-green, or the designed rows-only outcome.
            ok = rec.get("hash_match") is True or (
                rec.get("err") == "no_oracle"
                and rec.get("spark_rows") is not None
            )
            if ok:
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def rotate(
    names: Sequence[str], newest: dict[str, int], changed: Iterable[str]
) -> list[str]:
    """The ``WINDOW`` names to register first, in slot order."""
    registered = set(names)
    changed = sorted(changed)
    unknown = [n for n in [FLAGSHIP, *FAMILY_ANCHORS, *changed]
               if n not in registered]
    if unknown:
        raise ValueError(f"window policy names unregistered queries: {unknown}")

    never_checked = sorted(n for n in registered if n not in newest)
    stale_order = sorted(
        (n for n in registered if n in newest), key=lambda n: (newest[n], n)
    )
    window = list(dict.fromkeys(
        [FLAGSHIP, *never_checked, *changed, *FAMILY_ANCHORS, *stale_order]
    ))[:WINDOW]
    if len(window) != WINDOW:
        raise ValueError(
            f"registry has only {len(window)} names; window needs {WINDOW}"
        )
    return window
