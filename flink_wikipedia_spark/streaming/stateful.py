"""Custom stateful streaming: the one applyInPandasWithState hook, and
the stream-stream interval join.

applyInPandasWithState generalizes the reference's WindowFunction
shape (``DataStreamJob.java:93-108``: user code + per-key managed
state). SURVEY.md §4.3(3): nothing in the inventory *needs* it (every
inventoried aggregate compiles to native operators, which is always
preferable); the hook exists for semantics Spark's aggregates can't
express — per-key session machines, custom eviction, cross-event
pattern state. ``running_domain_totals_bucketed`` is that hook, kept
runnable and pinned equal to its native ``groupBy("domain")`` twin.

Scale notes: state lives in the state store (RocksDB per session.py —
disk-backed, checkpointed). The hook groups on a hash bucket, not on
the key: Arrow moves one bucket's rows per call, and each bucket's
state holds its keys' counters (two per key).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from urllib.parse import unquote, urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_log = __import__("logging").getLogger(__name__)

RUNNING_TOTALS_SCHEMA = "domain string, n_edits long, total_edit_size long"

BUCKETED_STATE_SCHEMA = (
    "domains array<string>, ns array<long>, ss array<long>"
)


def _update_totals_bucketed(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # One call covers EVERY domain hashing into this bucket: the batch
    # slice is reduced vectorized (pandas groupby), then merged into the
    # bucket's domain->(n, s) dict held as three parallel state arrays.
    if state.exists:
        domains, ns, ss = state.get
        totals: dict[str, tuple[int, int]] = {
            d: (n, s) for d, n, s in zip(domains, ns, ss)
        }
    else:
        totals = {}
    batch = pd.concat(list(pdfs), ignore_index=True)
    # count rows with `size` (counts ALL rows, matching Spark's
    # count(*) — pandas `count` would skip rows whose lengths decoded
    # to null), sum with NaN-skip (Spark's sum skips nulls too)
    sizes = (batch["new_length"] - batch["old_length"]).abs()
    # dropna=False: Spark gives a null key its own group, so the
    # native aggregate emits a row for it — match that here
    grouped = sizes.groupby(batch["domain"], dropna=False)
    agg = pd.DataFrame({"n": grouped.size(), "s": grouped.sum()})
    out_d, out_n, out_s = [], [], []
    for domain, row in agg.iterrows():
        if pd.isna(domain):
            domain = None  # pandas NaN key → the stored/emitted null
        n0, s0 = totals.get(domain, (0, 0))
        n1, s1 = n0 + int(row["n"]), s0 + int(row["s"])
        totals[domain] = (n1, s1)
        out_d.append(domain)
        out_n.append(n1)
        out_s.append(s1)
    state.update(
        (
            list(totals.keys()),
            [n for n, _ in totals.values()],
            [s for _, s in totals.values()],
        )
    )
    yield pd.DataFrame(
        {"domain": out_d, "n_edits": out_n, "total_edit_size": out_s}
    )


def default_bucket_count(cores: int, est_keys: int | None = None) -> int:
    """Bucket count for hash-bucketed state, from the sf100 sweep rule
    ``buckets ≈ max(8 × cores, keys / 2000)`` (see
    running_domain_totals_bucketed): at least 8 groups per core so no
    core starves, keys-per-bucket in the low thousands so per-call
    Python overhead stays amortized. Without a key estimate the floor
    is 1024 — the sweep's measured optimum at 1.5 M keys / 32 cores
    (256 → 532 K ev/s, 1024 → 915 K, 4096 → 734 K ev/s,
    logs_r10/stream_sf100_b*.json) — so small deployments keep the
    measured default while a 512-core cluster derives 4096 instead of
    silently starving at 8-per-core. The result rounds up to the next
    power of two — at the sweep's own shape (32 cores, 1.5 M keys) the
    raw rule lands at 750 and the rounded value is the measured winner
    1024."""
    floor = 1024 if est_keys is None else -(-est_keys // 2000)
    raw = max(8 * cores, floor)
    return 1 << (raw - 1).bit_length()


def _require_positive(buckets: int) -> int:
    # pmod by 0 fails the first executed batch (REMAINDER_BY_ZERO under
    # ANSI) after the query has started, and a negative modulus yields
    # negative bucket ids — refuse both before any Spark job runs
    if buckets < 1:
        raise ValueError(f"bucket count must be >= 1, got {buckets}")
    return buckets


def resolve_bucket_count(
    df: DataFrame,
    buckets: int | None,
    est_keys: int | None,
    operator: str,
) -> int:
    """Resolve an operator's bucket count, LOGGING the value whenever
    it is auto-derived (ADVICE r11: a silently-derived count that
    differs across restarts of a checkpointed query re-shards state
    incorrectly — pmod over a different modulus — so the derivation
    must at least be visible in driver logs; validate_bucket_count
    makes a mismatch fail loudly). An explicit count below 1 raises
    ValueError."""
    if buckets is not None:
        return _require_positive(buckets)
    derived = default_bucket_count(
        df.sparkSession.sparkContext.defaultParallelism, est_keys
    )
    _log.warning(
        "%s: bucket count auto-derived as %d (defaultParallelism=%d, "
        "est_keys=%s). Pin buckets= explicitly (or guard restarts with "
        "validate_bucket_count) for any checkpointed query that must "
        "survive a cluster resize — a different derived count on "
        "restart re-shards state incorrectly.",
        operator,
        derived,
        df.sparkSession.sparkContext.defaultParallelism,
        est_keys,
    )
    return derived


def _local_checkpoint_dir(checkpoint_dir: str) -> str:
    """The local path of a checkpoint location: a plain path as given, a
    ``file:`` URI as its path. Any other scheme raises — the sidecar is
    written with local file I/O, and under a remote scheme it would land
    in a directory named after the URI below the working directory,
    nowhere near Spark's checkpoint."""
    uri = urlsplit(checkpoint_dir)
    if not uri.scheme:
        return checkpoint_dir
    if uri.scheme == "file" and uri.netloc in ("", "localhost"):
        return unquote(uri.path)
    raise ValueError(
        "validate_bucket_count writes its sidecar to the local "
        f"filesystem and cannot pin a count for {checkpoint_dir!r}: pass "
        "a local path or a file: URI, or for a remote checkpoint pass the "
        "same explicit buckets= on every restart."
    )


def validate_bucket_count(checkpoint_dir: str, buckets: int) -> int:
    """Pin a bucketed operator's bucket count to its checkpoint
    (ADVICE r11): on first use writes a ``_bucket_count`` sidecar next
    to Spark's checkpoint data; on restart a mismatched count raises
    instead of silently corrupting state (pmod over a different
    modulus scatters each key's history across buckets). Returns the
    validated count. Call it with the SAME location passed as
    checkpointLocation (a local path or a ``file:`` URI), before
    starting the query::

        buckets = validate_bucket_count(ckpt, buckets)
        q = running_domain_totals_bucketed(src, buckets=buckets)...

    The sidecar is one integer in a text file — human-inspectable and
    trivially removable WITH the checkpoint when intentionally
    resharding (which always requires a fresh checkpoint anyway).
    A count below 1 or a non-local checkpoint URI raises ValueError."""
    _require_positive(buckets)
    local_dir = _local_checkpoint_dir(checkpoint_dir)
    os.makedirs(local_dir, exist_ok=True)
    sidecar = os.path.join(local_dir, "_bucket_count")
    if os.path.exists(sidecar):
        with open(sidecar) as fh:
            pinned = int(fh.read().strip())
        if pinned != buckets:
            raise ValueError(
                f"bucket count {buckets} does not match the {pinned} this "
                f"checkpoint ({checkpoint_dir}) was written with — "
                "resuming would re-shard state incorrectly. Pass "
                f"buckets={pinned}, or start a fresh checkpoint to reshard."
            )
        return pinned
    with open(sidecar, "w") as fh:
        fh.write(f"{buckets}\n")
    return buckets


def running_domain_totals_bucketed(
    decoded: DataFrame, buckets: int | None = None, est_keys: int | None = None
) -> DataFrame:
    """Per-domain lifetime counters (n_edits, total_edit_size) with
    hash-bucketed state: one updated row per domain seen in each batch,
    state carried across triggers and never expired. The output equals
    the native update-mode aggregate ``groupBy("domain").agg(count("*"),
    coalesce(sum(abs(new_length - old_length)), 0))`` batch for batch
    (tests/test_stateful.py), but grouping is on ``hash(domain) %
    buckets`` instead of the domain.

    Why: applyInPandasWithState invokes the Python function once per
    GROUP per batch. Grouped per key, sf100's 1.5 M live domains
    mean 1.5 M Arrow round trips and state-store point lookups per
    trigger — per-call overhead, not aggregation work, is the measured
    bottleneck (49.2 K ev/s vs 3.1 M ev/s for the JVM twin,
    BENCH_sf100.json). Bucketing amortizes that overhead ~(keys/buckets)×:
    ~1 K Python calls per trigger, each reducing its slice with a
    vectorized pandas groupby before one dict merge.

    Trade-offs (documented, not hidden): each bucket's state row is
    rewritten whole every batch it appears in — with K total keys the
    per-batch state write volume is O(K) either way, but RocksDB sees
    `buckets` fat rows instead of K skinny ones (better write batching,
    worse single-row size). Bucket-count sweep at sf100 (1.5 M keys,
    32 cores, logs_r10/stream_sf100_b*.json): 256 → 532 K ev/s (too few
    groups to keep cores busy, fat per-call merges), 1024 → 915 K ev/s,
    4096 → 734 K ev/s (per-call overhead returns). Rule of thumb:
    buckets ≈ max(8 × cores, keys / 2000) — keys-per-bucket in the low
    thousands while keeping several groups per core. When ``buckets``
    is None the count is derived by default_bucket_count() from the
    session's defaultParallelism and the optional ``est_keys``
    live-key estimate (pass it when you know the keyspace; the
    no-estimate floor of 1024 is the sweep's winner at this box's
    shape). NOTE: changing the bucket count between restarts of a
    checkpointed query re-shards state incorrectly — pin ``buckets``
    explicitly for any query that must survive a cluster resize.
    Per-key timeouts/eviction would need per-key bookkeeping inside the
    bucket dict — this operator needs neither (NoTimeout, state never
    expires), which is exactly when bucketing is safe.
    """
    buckets = resolve_bucket_count(
        decoded, buckets, est_keys, operator="running_domain_totals_bucketed"
    )
    return (
        decoded.select(
            F.pmod(F.xxhash64("domain"), F.lit(buckets)).alias("bucket"),
            "domain",
            "old_length",
            "new_length",
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            _update_totals_bucketed,
            RUNNING_TOTALS_SCHEMA,
            BUCKETED_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def purchases_with_recent_views(
    left: DataFrame, right: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join with a time-range constraint (no
    reference equivalent — Flink's interval join analog). Both sides
    carry watermarks; Spark bounds join state to the `within` horizon
    on each side — state is O(rate × horizon), not O(stream).

    left/right: decoded edit-event streams (any keyed pair works; the
    test joins per-domain 'edit' events to earlier 'view'-like events).
    """
    l = left.select(
        F.col("domain").alias("l_domain"),
        F.col("ts").alias("l_ts"),
        F.col("new_length").alias("l_new_length"),
    ).withWatermark("l_ts", "1 second")
    r = right.select(
        F.col("domain").alias("r_domain"),
        F.col("ts").alias("r_ts"),
        F.col("new_length").alias("r_new_length"),
    ).withWatermark("r_ts", "1 second")
    return l.join(
        r,
        (F.col("l_domain") == F.col("r_domain"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("r_ts") < F.col("l_ts")),
        "inner",
    )
