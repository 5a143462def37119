"""Iterative graph operators: connected components by min-label
propagation — the transitive-closure step that turns pairwise near-dup
CANDIDATES into whole dup-GROUPS (a MinHash pair list says a~b and b~c;
the component {a,b,c} is what dedup actually deletes against).

This is the engine's iterative-algorithm surface: a driver-side loop
over distributed DataFrame steps (the loop count is O(graph diameter),
never O(data)). Each iteration is one join + one aggregate; lineage is
truncated with localCheckpoint every iteration so plans don't grow
unboundedly — the standard Spark pattern for iterative workloads.

Connected components has two paths, pinned to identical labels by
tests/test_operators.py: driver union-find for graphs under
``SMALL_GRAPH_EDGES``, and one distributed loop for the rest,
**min-label propagation + pointer jumping** (`_minlabel_components`):
each round every node takes the min label over its neighborhood, then
shortcuts label→label-of-label, so rounds are O(log diameter) and each
round is one job over the full edge list. Large-star/small-star
(Kiveris et al., 2014) is not used: min-label is faster on MinHash
near-dup pairs (the only input callers pass), chains and hub graphs;
star wins only on sparse random graphs no caller builds
(PERF_cc_one_loop.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# At or below this many DIRECTED edges (2 × input pairs: the count the
# distributed loop iterates over) the component graph fits comfortably
# on the driver (~tens of MB) and union-find beats the distributed loop's
# per-iteration job-scheduling floor by ~10x. Near-dup graphs after LSH
# candidate filtering are orders of magnitude smaller than the corpus
# (only docs in some candidate pair appear), so even at 100 TB corpus
# scale the edge list is routinely under this bound; when it isn't, the
# distributed min-label loop below handles it with bounded driver memory.
SMALL_GRAPH_EDGES = 1_000_000


def _unionfind_components(pairs) -> list:
    """Driver-side union-find with path compression over (u, v) pairs,
    one direction each; labels each node with the min member of its
    component (same contract as the distributed loop)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    min_member: dict = {}
    for x in parent:
        r = find(x)
        m = min_member.get(r)
        if m is None or x < m:
            min_member[r] = x
    return [(x, min_member[find(x)]) for x in parent]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Label each node with the minimum node id reachable from it
    (= component id). Returns (node, component).

    max_iter: min-label round budget (rounds are O(log diameter), so 25
    covers diameters far past any near-dup graph); a non-fixed-point at
    the budget raises RuntimeError rather than returning truncated
    labels.

    edges: undirected pair list (each pair once is fine — both
    directions are added internally).

    Scale-adaptive: materializes the edge list once, ONE direction
    only, then probes it with a bounded ``limit``. A graph whose
    directed edge count (2 × input rows) is at most
    ``small_graph_edges`` is solved with driver union-find over that
    probe; larger graphs fall through to the distributed min-label loop
    over the checkpoint unioned with its mirror. The guard bounds
    driver memory — both paths give identical labels and stay fully
    tested (tests/test_operators.py forces the loop with
    ``small_graph_edges=0``).
    """
    # materialize the edge list ONCE: the loop reads it every iteration,
    # and an unmaterialized plan would re-run the (possibly expensive)
    # upstream candidate-generation pipeline per iteration. One
    # direction suffices: union-find needs no mirror, and the loop
    # mirrors the checkpoint lazily.
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    und = fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # Size probe and small-graph collect in ONE job: a bounded limit
    # over the checkpointed blocks either returns the whole edge list
    # (≤ guard directed edges ⇒ it IS the input union-find needs) or
    # proves the graph is large while moving at most guard/2+1 rows.
    probe = fwd.limit(small_graph_edges // 2 + 1).toArrow()
    if 2 * probe.num_rows <= small_graph_edges:
        labeled = _unionfind_components(
            zip(probe.column("u").to_pylist(), probe.column("v").to_pylist())
        )
        from flink_wikipedia_spark.functions.compat import arrow_local_df

        # the mirror's type: mixed src/dst types widen as in the loop
        t = und.schema["u"].dataType.simpleString()
        # Arrow transport, not pickled rows: the labeled list can be
        # ~10^6 nodes at the guard ceiling, and the pickled-RDD path
        # additionally spawns a Python worker per downstream task just
        # to unpickle it (see arrow_local_df).
        return arrow_local_df(
            und.sparkSession, labeled, f"node {t}, component {t}", ["node", "component"]
        )
    del probe
    return _minlabel_components(und, max_iter)


def sql_components_duckdb(rounds: int = 24) -> str:
    """DuckDB oracle twin of ``connected_components``: UNROLLED
    min-label propagation + pointer jumping — the same algorithm
    ``_minlabel_components`` runs — as ``rounds`` MATERIALIZED CTE
    stages over an ``edges(u, v)`` CTE that must already contain BOTH
    directions. Emits CTE text defining ``comp(node, component)``;
    splice it into a WITH list after ``edges``.

    Why not a WITH RECURSIVE transitive closure: ``reach`` materializes
    every (node, reachable-node) pair — Σ|component|² rows, quadratic in
    cluster size — which made the sf10 oracle the correctness gate's
    bottleneck (>300 s wall while the engine side ran in seconds; the
    same checker-scales-worse-than-engine failure mode SCALE.md records
    for the dedup-pipeline oracle). The ladder is O(rounds × |E|), and
    pointer jumping makes rounds O(log diameter): 24 covers diameters
    past 10^6. Under-iteration cannot pass silently — unconverged labels
    mismatch the engine's and fail the gate."""
    parts = [
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lab FROM edges)"
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
        SELECT n.node, LEAST(n.lab, COALESCE(m.minlab, n.lab)) AS lab
        FROM l{k - 1} n LEFT JOIN (
            SELECT e.u AS node, MIN(x.lab) AS minlab
            FROM edges e JOIN l{k - 1} x ON x.node = e.v
            GROUP BY e.u
        ) m USING (node)
    )"""
        )
        parts.append(
            f"""l{k} AS MATERIALIZED (
        SELECT a.node, COALESCE(b.lab, a.lab) AS lab
        FROM p{k} a LEFT JOIN p{k} b ON b.node = a.lab
    )"""
        )
    parts.append(f"comp AS (SELECT node, lab AS component FROM l{rounds})")
    return ",\n    ".join(parts)


def _minlabel_components(und: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation with pointer jumping over an undirected
    edge list read from a checkpoint (both directions present). See module
    docstring; convergence detection rides the materialization job via
    ``observe`` so each round costs exactly one job. Labels still
    changing after ``max_iter`` rounds raise RuntimeError: they are not
    components yet."""
    from pyspark.sql import Observation

    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        # each node proposes its current label to every neighbor
        proposals = (
            und.join(labels, und.u == labels.node)
            .select(F.col("v").alias("node"), F.col("component"), F.lit(0).alias("is_old"))
        )
        # union the node's OWN current label (is_old=1) with neighbor
        # proposals; one aggregate yields both the propagated min-label
        # and the node's previous label — the previous label rides along
        # so convergence needs no extra join against the old frame
        propagated = (
            labels.select("node", "component", F.lit(1).alias("is_old"))
            .unionByName(proposals)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("is_old") == 1, F.col("component"))).alias(
                    "old_comp"
                ),
            )
        )
        # pointer jumping: component ids ARE node ids, so shortcut each
        # label to its label's label — O(diameter) becomes O(log diameter)
        new_labels = (
            propagated.alias("a")
            .join(
                propagated.select(
                    F.col("node").alias("_ln"), F.col("component").alias("_lc")
                ).alias("b"),
                F.col("a.component") == F.col("b._ln"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.coalesce(F.col("b._lc"), F.col("a.component")).alias("component"),
                F.col("a.old_comp").alias("old_comp"),
            )
            # localCheckpoint is load-bearing, persist() is NOT a
            # substitute: persist only short-circuits execution — the
            # LOGICAL plan still nests the previous iteration's tree
            # (labels appears ~4x per round), so analysis/plan-string
            # work grows 4^N and OOMs the driver around iteration 10.
            # Checkpointing replaces the plan with a LogicalRDD leaf.
            # lazy: materialized by the observed count below, so each
            # iteration costs ONE job. Old checkpoint blocks are freed
            # by the ContextCleaner when the superseded DataFrame is
            # garbage-collected.
            .localCheckpoint(eager=False)
        )
        # convergence piggybacks on the materialization job via observe:
        # the changed-count is computed as a metric of the same action
        # that checkpoints the labels — no second join, no second job.
        # At cluster scale each avoided job is a full scheduler
        # round-trip per iteration.
        obs = Observation()
        observed = new_labels.observe(
            obs,
            # coalesce: sum over an EMPTY frame is null, which would
            # read as "changed" and spin the loop to max_iter
            F.coalesce(
                F.sum((F.col("component") != F.col("old_comp")).cast("long")),
                F.lit(0),
            ).alias("changed"),
        )
        observed.count()
        labels = new_labels.select("node", "component")
        if obs.get["changed"] == 0:
            return labels
    raise RuntimeError(
        f"min-label propagation did not reach a fixed point within "
        f"max_iter={max_iter} rounds; rerun with a larger max_iter"
    )


# Below this edge count the degreed edge list fits comfortably on the
# driver (3 int64 columns ≤ ~24 MB) and a vectorized numpy loop beats
# the distributed loop's per-iteration scheduling floor by ~10x —
# integer fixed-point arithmetic makes the two paths BIT-IDENTICAL
# (pinned by tests/test_pagerank_operator.py), so this is the same
# bounded-guard-with-distributed-fallback design as
# SMALL_GRAPH_EDGES above. At 100 TB the part↔supplier-style distinct
# edge lists blow past this bound and the distributed loop runs.
PR_SMALL_GRAPH_EDGES = 1_000_000


def _local_pagerank(
    src,
    dst,
    deg,
    unit: int,
    base: int,
    damp_num: int,
    damp_den: int,
    max_iters: int,
    eps: int | None,
):
    """Driver-side exact twin of the distributed loop: vectorized
    integer PageRank over collected (src, dst, d) int64 arrays. All
    quantities are positive int64, where numpy's ``//`` equals Spark's
    ``div`` and DuckDB's ``//`` — every iteration is exact and
    order-independent, so results match the distributed path bit for
    bit. Returns ((nodes, ranks) int64 arrays, n_iters)."""
    import numpy as np

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    deg = np.asarray(deg, dtype=np.int64)
    nodes, src_idx = np.unique(src, return_inverse=True)
    dst_idx = np.searchsorted(nodes, dst)
    # both-directions contract: every receiver must also be a sender,
    # else searchsorted silently maps it onto a neighbor's slot
    if len(dst) and not np.array_equal(nodes[np.clip(dst_idx, 0, len(nodes) - 1)], dst):
        raise ValueError("pagerank edge list must contain both directions")
    ranks = np.full(len(nodes), unit, dtype=np.int64)
    prev = ranks  # rank_{k-2} tracker for the two-round delta (below)
    n_iters = max_iters
    for i in range(1, max_iters + 1):
        sums = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(sums, dst_idx, ranks[src_idx] // deg)
        new = base + (damp_num * sums) // damp_den
        if eps is not None:
            # TWO-round delta |rank_k - rank_{k-2}| (round 1 compares
            # against the seed): bipartite graphs sustain an
            # integer-quantized PERIOD-2 cycle that single-round deltas
            # never see — at sf100 the supplier graph's single-round
            # delta plateaus at 19 999 forever (hub degree ~40 K
            # amplifies ±1 supplier quantization), while the two-round
            # delta hits exactly 0 at the cycle (SCALE.md §r12).
            if int(np.abs(new - prev).max(initial=0)) <= eps:
                ranks, n_iters = new, i
                break
        prev, ranks = ranks, new
    else:
        if eps is not None:
            raise RuntimeError(
                f"pagerank did not converge to two-round max|Δrank| <= "
                f"{eps} within max_iters={max_iters} rounds; raise the "
                f"budget or eps"
            )
    return (nodes, ranks), n_iters


def pagerank(
    withdeg: DataFrame,
    *,
    unit: int,
    base: int,
    damp_num: int,
    damp_den: int,
    max_iters: int,
    eps: int | None = None,
    small_graph_edges: int | None = None,
) -> tuple[DataFrame, int]:
    """Fixed-point integer PageRank over a degreed edge list.

    ``withdeg``: (src, dst, d) with BOTH directions present and ``d`` =
    out-degree of src. Pass it UNPERSISTED — this operator owns the
    edge list's persistence lifecycle (see below). Ranks start at
    ``unit`` micro-units; each round every node receives ``base +
    damp_num * Σ(rank_src div d_src) div damp_den``. Integer ``div``
    arithmetic makes every iteration exact and order-independent, so
    results are bit-identical across engines and partition orders (see
    queries_dedup.PR_UNIT rationale).

    Returns ``(ranks, n_iters)`` where ranks is (node, rank).

    ``eps=None`` (budget mode): run exactly ``max_iters`` LAZY
    iterations — zero driver actions; the caller's single action
    executes the whole ladder over a tracked persist (the
    q_pagerank_parts_suppliers shape; its measured per-iteration
    max-delta decays only by the damping factor per round, ~0.85x, so
    at small budgets there are NO dead iterations to cut and a delta
    check would be pure overhead). The small-graph guard does NOT
    apply here: deciding it needs an edge count, and the probe's
    materialization would double the dominant distinct+window work for
    every large graph (measured +21 MB shuffle / +40% CPU at sf0.1
    when an r12 draft probed unconditionally) — a lazy plan's cost
    can't be probed without paying it.

    ``eps`` set (convergence mode): iterate until the max per-node
    TWO-round delta |rank_k - rank_{k-2}| ≤ eps micro-units (round 1
    compares against the seed), erroring loudly if the budget is hit
    first — the components-loop contract (truncated ranks must never
    pass silently as converged). Two rounds, not one: bipartite graphs
    sustain an integer-quantized period-2 rank cycle whose single-round
    delta NEVER falls below a fixed eps once hub degrees are large
    enough (first seen at sf100 — SCALE.md §r12); the two-round delta
    is blind to the oscillating component and reaches exactly 0 at the
    cycle, so the stop is scale-independent. Each round costs exactly ONE job: the
    delta rides the same ``observe`` metric that materializes the
    round's lazy localCheckpoint, the `_minlabel_components` pattern —
    no second aggregate, no driver-side collect of data rows. The
    checkpoint also truncates lineage so convergence runs of tens of
    rounds keep O(1) plan depth.

    Scale-adaptive IN CONVERGENCE MODE ONLY (the
    ``connected_components`` design): eps-mode runs driver actions
    every round regardless, so the probe count just materializes the
    cache round 1 needs anyway. Graphs at or under
    ``small_graph_edges`` (default PR_SMALL_GRAPH_EDGES, resolved at
    call time so tests can force the distributed path) run the
    bit-identical driver-side numpy loop (``_local_pagerank``),
    skipping K rounds of scheduler floor — measured 9.5 s → 1.2 s on
    the 20 K-edge supplier graph at sf1; larger graphs fall through to
    the distributed loop, fully tested via
    tests/test_pagerank_operator.py (``small_graph_edges=0`` + path
    equality pins).

    Cache lifecycle per path (the persist must NOT leak, and the
    async cache-release listener must NOT strip a cache mid-loop):

    - budget: a FRESH persist is registered with track_cache as an
      unmaterialized intent — the caller's action materializes it and
      the release listener reclaims it afterwards, the exact lifecycle
      tests/test_round9_hardening.py pins.
    - eps local: the Arrow toPandas drains the probe cache; unpersist
      immediately.
    - eps distributed: the loop's own actions reuse the probe cache;
      it stays PRIVATE (untracked — a tracked materialized frame would
      be reclaimed by the release listener after iteration 1's action)
      and is unpersisted synchronously when the loop ends.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    if small_graph_edges is None:
        small_graph_edges = PR_SMALL_GRAPH_EDGES
    if eps is not None:
        cached = withdeg.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_probe_edges = cached.count()
        except Exception:
            # ADVICE r12: a failed probe count must not leak the (possibly
            # partially materialized) probe cache into the session
            cached.unpersist()
            raise
        if n_probe_edges <= small_graph_edges:
            import pandas as pd

            spark = cached.sparkSession
            try:
                # Arrow-batched transfer both ways (ensure_session_conf
                # enables it even on a vanilla driver session): at the
                # 10^6-edge guard ceiling, row-object collect/
                # createDataFrame cost seconds of pure serialization
                pdf = cached.select("src", "dst", "d").toPandas()
            finally:
                cached.unpersist()
            (nodes, ranks), n_iters = _local_pagerank(
                pdf["src"].to_numpy(),
                pdf["dst"].to_numpy(),
                pdf["d"].to_numpy(),
                unit, base, damp_num, damp_den, max_iters, eps,
            )
            out = spark.createDataFrame(
                pd.DataFrame({"node": nodes, "rank": ranks}),
                schema="node long, rank long",
            )
            return out, n_iters

    def make_step(edges: DataFrame):
        def step(r: DataFrame) -> DataFrame:
            return (
                edges.join(r, edges.src == r.node)
                .select("dst", F.expr("rank div d").alias("contrib"))
                .groupBy("dst")
                .agg(
                    (
                        F.lit(base)
                        + F.expr(f"({damp_num} * sum(contrib)) div {damp_den}")
                    )
                    .cast("long")
                    .alias("rank")
                )
                .select(F.col("dst").alias("node"), "rank")
            )

        return step

    if eps is None:
        # lazy ladder over a fresh unmaterialized persist: the release
        # listener protects the intent until the caller's action runs
        # (see docstring) — no probe ever materialized anything here
        from flink_wikipedia_spark.plans.registry import track_cache

        edges = track_cache(withdeg.persist(StorageLevel.MEMORY_AND_DISK))
        step = make_step(edges)
        ranks = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("rank", F.lit(unit).cast("long"))
        )
        for _ in range(max_iters):
            ranks = step(ranks)
        return ranks, max_iters

    from pyspark.sql import Observation

    step = make_step(cached)
    try:
        # state carries (node, rank=rank_k, prev=rank_{k-1}) so each
        # round can compute the TWO-round delta |rank_{k+1} - rank_{k-1}|
        # — period-2-aware convergence (see _local_pagerank's comment;
        # single-round deltas plateau forever on bipartite graphs whose
        # integer quantization sustains a 2-cycle above eps). Seed
        # prev = rank so round 1 compares against the initial ranks.
        state = (
            cached.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("rank", F.lit(unit).cast("long"))
            .withColumn("prev", F.col("rank"))
            .localCheckpoint()
        )
        for i in range(1, max_iters + 1):
            nxt = (
                step(state.select("node", "rank"))
                .withColumnRenamed("rank", "_new")
                .join(state, "node")
                .select(
                    "node",
                    F.col("_new").alias("rank"),
                    F.col("rank").alias("prev"),
                    F.abs(F.col("_new") - F.col("prev")).alias("_delta"),
                )
                .localCheckpoint(eager=False)
            )
            obs = Observation()
            observed = nxt.observe(
                obs,
                # coalesce: max over an empty frame is null, which must
                # read as converged (an empty graph has nothing to move)
                F.coalesce(F.max("_delta"), F.lit(0)).alias("delta"),
            )
            observed.count()
            state = nxt.select("node", "rank", "prev")
            if obs.get["delta"] <= eps:
                return state.select("node", "rank"), i
    finally:
        cached.unpersist()
    raise RuntimeError(
        f"pagerank did not converge to two-round max|Δrank| <= {eps} "
        f"within max_iters={max_iters} rounds; raise the budget or eps"
    )
