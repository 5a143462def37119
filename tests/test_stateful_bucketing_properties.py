"""Property pin: the hash-bucketed running-totals update function equals
a pure-Python per-key dict reference for ANY partition of domains into buckets
(one bucket included), any batch split, null domains and null lengths.

The real-stream equality test (test_stateful.py) proves the full
applyInPandasWithState wiring against the native aggregate on a narrow
fixture; this drives the update FUNCTION directly against a fake
GroupState, so hypothesis can afford hundreds of adversarial examples
(a bucketed-state bug found at sf100 costs hours; here it costs
milliseconds).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_wikipedia_spark.streaming.stateful import _update_totals_bucketed

DOMAINS = ["a.org", "b.org", "c.org", "d.org", None]

length = st.one_of(st.none(), st.integers(min_value=-1000, max_value=10_000))
row = st.tuples(st.sampled_from(DOMAINS), length, length)  # domain, old, new


class FakeGroupState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, t):
        self._v = tuple(t)


def _pdf(rows):
    # pd.Series infers what Arrow hands the Python worker: int64 for a
    # null-free long column, float64 with NaN once it holds a null
    return pd.DataFrame(
        {
            "domain": [d for d, _, _ in rows],
            "old_length": pd.Series([o for _, o, _ in rows]),
            "new_length": pd.Series([n for _, _, n in rows]),
        }
    )


def _norm_key(d):
    # pandas surfaces a null groupby key as NaN; the operator emits None
    return None if d is None or (isinstance(d, float) and pd.isna(d)) else d


def _split(rows, cuts):
    bounds = sorted({c for c in cuts if c < len(rows)}) + [len(rows)]
    return [rows[a:b] for a, b in zip([0] + bounds, bounds) if b > a]


def _check_matches_per_key_reference(rows, cuts, bucket_of):
    """Run _update_totals_bucketed over the batches cut from ``rows``,
    each domain in bucket ``bucket_of[domain]``, and compare it with a
    per-key dict reference."""
    want: dict[str | None, tuple[int, int]] = {}
    states: dict[int, FakeGroupState] = {}
    for batch in _split(rows, cuts):
        # reference: every row counts; only a row with both lengths
        # non-null adds to the size
        for d, old, new in batch:
            n, s = want.get(d, (0, 0))
            size = abs(new - old) if old is not None and new is not None else 0
            want[d] = (n + 1, s + size)

        emitted: list[tuple[str | None, int, int]] = []
        for b in sorted({bucket_of[d] for d, _, _ in batch}):
            part = [r for r in batch if bucket_of[r[0]] == b]
            st_ = states.setdefault(b, FakeGroupState())
            for df in _update_totals_bucketed((b,), iter([_pdf(part)]), st_):
                emitted += [
                    (_norm_key(r.domain), int(r.n_edits), int(r.total_edit_size))
                    for r in df.itertuples()
                ]
        # one row per domain seen in this batch, carrying its lifetime
        # totals so far
        seen = {d for d, _, _ in batch}
        assert len(emitted) == len(seen)
        assert {d: (n, s) for d, n, s in emitted} == {d: want[d] for d in seen}

    # the carried state arrays hold exactly the reference totals, each
    # domain in the bucket it hashes to
    final = {}
    for b, st_ in states.items():
        domains, ns, ss = st_.get
        assert all(bucket_of[d] == b for d in domains)
        final.update(zip(domains, zip(ns, ss)))
    assert final == want


batches = dict(
    rows=st.lists(row, min_size=1, max_size=60),
    cuts=st.lists(st.integers(min_value=1, max_value=59), max_size=4),
)


@settings(max_examples=200, deadline=None)
@given(**batches, n_buckets=st.integers(min_value=1, max_value=4), data=st.data())
def test_bucketed_equals_per_key_for_any_bucket_assignment(
    rows, cuts, n_buckets, data
):
    # ANY domain→bucket mapping must give the reference's output — the
    # operator may not rely on which keys share a bucket
    bucket_of = {
        d: data.draw(
            st.integers(min_value=0, max_value=n_buckets - 1), label=f"b({d})"
        )
        for d in DOMAINS
    }
    _check_matches_per_key_reference(rows, cuts, bucket_of)


@settings(max_examples=50, deadline=None)
@given(**batches)
def test_all_domains_in_one_bucket_equals_per_key(rows, cuts):
    # degenerate worst case: every key in a single bucket (one fat
    # state row carrying the whole keyspace)
    _check_matches_per_key_reference(rows, cuts, dict.fromkeys(DOMAINS, 0))
