"""Micro-tests for the custom operators (as-of join, range join,
similarity, dedup sketches) on hand-computable inputs — the batch oracle
covers them at scale; these pin the semantics on corner cases."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from flink_wikipedia_spark.operators.dedup import (
    jaccard_pairs,
    minhash_signatures,
    simhash_fingerprints,
)
from flink_wikipedia_spark.operators.relational import (
    asof_join,
    range_join_count,
    topk_per_group,
)
from flink_wikipedia_spark.operators.similarity import topk_cosine


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 100), (1, 205), (2, 50)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 90, 9.0), (1, 100, 10.0), (1, 200, 20.0), (2, 60, 6.0)],
        "k long, t long, v double",
    )
    out = {
        (r.k, r.t): r.v
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t", value_cols=["v"]
        ).collect()
    }
    assert out[(1, 100)] == 10.0  # equal ts matches (ASOF >= semantics)
    assert out[(1, 205)] == 20.0  # latest ≤ 205
    assert out[(2, 50)] is None   # nothing at or before 50


def test_range_join_counts_boundaries(spark):
    left = spark.createDataFrame([(1, 1000, 7)], "k long, t long, tag int")
    right = spark.createDataFrame(
        [(1, 1000), (1, 1001), (1, 4600), (1, 4601), (2, 1200)], "k long, t long"
    )
    out = range_join_count(
        left, right, on="k", left_ts="t", right_ts="t", range_sec=3600
    ).collect()
    # (t, t+3600]: 1000 excluded (strict >), 1001 and 4600 in, 4601 out,
    # other key out
    assert out[0].n_in_range == 2


def test_range_join_left_rows_without_matches_survive(spark):
    left = spark.createDataFrame([(5, 10)], "k long, t long")
    right = spark.createDataFrame([(6, 11)], "k long, t long")
    out = range_join_count(
        left, right, on="k", left_ts="t", right_ts="t", range_sec=100
    ).collect()
    assert len(out) == 1 and out[0].n_in_range == 0


def test_topk_per_group_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 5, 1), ("a", 5, 2), ("a", 3, 3), ("b", 1, 4)], "g string, v long, id long"
    )
    out = topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], 2)
    got = [(r.g, r.id) for r in out.orderBy("g", "rk").collect()]
    assert got == [("a", 1), ("a", 2), ("b", 4)]


def test_topk_cosine_identical_vector_ranks_first(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    )
    out = topk_cosine(emb.filter("vec_id = 0"), emb, k=2).collect()
    assert [r.neighbor_id for r in out] == [1, 3]
    assert out[0].sim == pytest.approx(1.0)


def test_minhash_identical_docs_identical_signatures(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: tuple(r[f"sig_{i}"] for i in range(8))
            for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_is_frequency_sensitive_but_order_insensitive(spark):
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "z y x"), (3, "q r s t u v")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert fp[1] == fp[2]  # bag-of-words: order doesn't matter
    assert fp[1] != fp[3]


def test_jaccard_exact_value(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "zz yy")],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r.jaccard
           for r in jaccard_pairs(docs, max_id=10, threshold=0.0).collect()}
    assert out[(1, 2)] == pytest.approx(3 / 5)  # |∩|=3, |∪|=5
    assert (1, 3) not in out  # no shared tokens ⇒ no pair row at all


def test_pandas_udf_cosine_matches_builtin(spark):
    """UDF surface (SURVEY.md §2.2): an Arrow-batched @pandas_udf cosine
    agrees with the codegen higher-order-function kernel to 1e-12 —
    the sanctioned escape hatch produces the same numbers as the fast
    path it would replace."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from flink_wikipedia_spark.operators.similarity import cosine_expr
    from flink_wikipedia_spark.schemas import load_table
    from tests.conftest import SF_SMOKE

    # `from __future__ import annotations` stringifies hints, so pass the
    # function explicitly instead of relying on type-hint inference
    def _pd_cosine(a, b):
        def cos(x, y):
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            return float(x @ y / (np.sqrt(x @ x) * np.sqrt(y @ y)))

        return pd.Series([cos(x, y) for x, y in zip(a, b)])

    pd_cosine = pandas_udf(_pd_cosine, DoubleType())

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.crossJoin(b).filter(F.col("ia") < F.col("ib")).limit(200)
    rows = pairs.select(
        cosine_expr(F.col("ea"), F.col("eb")).alias("builtin"),
        pd_cosine("ea", "eb").alias("udf"),
    ).collect()
    assert rows and all(abs(r.builtin - r.udf) < 1e-12 for r in rows)


def test_connected_components_chain_and_island(spark):
    from flink_wikipedia_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "doc_a long, doc_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
    # fast path (driver union-find, the default for small graphs) and
    # the distributed min-label loop (forced via small_graph_edges=0)
    # must agree exactly
    got_fast = {r.node: r.component for r in connected_components(edges).collect()}
    got_dist = {
        r.node: r.component
        for r in connected_components(edges, small_graph_edges=0).collect()
    }
    assert got_fast == expected
    assert got_dist == expected


def test_connected_components_minlabel_matches_unionfind(spark):
    """The distributed min-label loop must produce labels identical to
    driver union-find on every graph shape, including the adversarial
    chain where naive propagation needs O(n) rounds."""
    import random

    from flink_wikipedia_spark.operators.graph import connected_components

    def labels(edges, **kw):
        return {
            r.node: r.component
            for r in connected_components(edges, small_graph_edges=0, **kw).collect()
        }

    def unionfind(edges):
        return {r.node: r.component for r in connected_components(edges).collect()}

    # 256-node chain: diameter 255. max_iter=12 would time out any
    # O(diameter)-round scheme — pointer jumping's O(log diameter)
    # convergence is what makes the labels come out right at all.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "doc_a long, doc_b long"
    )
    expected = {i: 0 for i in range(256)}
    assert labels(chain, max_iter=12) == expected
    assert unionfind(chain) == expected

    # random graphs: min-label == driver union-find
    rng = random.Random(7)
    for trial in range(3):
        pairs = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(40 + 20 * trial)
        ]
        edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        assert labels(edges) == unionfind(edges)

    # hub graph (near-dup shape)
    hub = spark.createDataFrame(
        [(0, i) for i in range(1, 40)] + [(100, 101)], "doc_a long, doc_b long"
    )
    expected = {i: 0 for i in range(40)} | {100: 100, 101: 100}
    assert labels(hub) == expected
    assert unionfind(hub) == expected


def test_connected_components_awkward_edge_list(spark):
    """Duplicate pairs, both orientations of a pair, a self-loop and an
    isolated pair: the driver path and the distributed loop (which
    mirrors the one checkpointed direction) must give the same labels."""
    from flink_wikipedia_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (3, 2), (5, 5), (8, 7)], "doc_a long, doc_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 7}

    def labels(**kw):
        return {r.node: r.component for r in connected_components(edges, **kw).collect()}

    assert labels() == expected
    assert labels(small_graph_edges=0) == expected


def test_connected_components_guard_counts_directed_edges(spark):
    """The driver path (a local relation) takes a graph iff 2 × its pair
    count is within ``small_graph_edges``; both sides of that line give
    the same labels."""
    from flink_wikipedia_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long")
    expected = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    for guard, on_driver in ((5, False), (6, True)):  # 6 directed edges
        got = connected_components(edges, small_graph_edges=guard)
        assert got.isLocal() == on_driver
        assert {r.node: r.component for r in got.collect()} == expected


def test_minlabel_budget_exhausted_raises(spark):
    """Labels still changing at ``max_iter`` are not components: a
    128-node chain needs more than one min-label round."""
    from flink_wikipedia_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(127)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(chain, small_graph_edges=0, max_iter=1).collect()


def test_map_fold_multikey(spark):
    """q_map_functions' oracle exploits the dataset's single-key props;
    this pins the generic map_values fold on a multi-key map."""
    df = spark.createDataFrame([('{"a": 3, "b": 4, "c": 5}',)], "props string")
    m = F.from_json("props", "map<string,bigint>")
    row = df.select(
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.element_at(m, "b").alias("b_val"),
        F.aggregate(
            F.map_values(m), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total"),
    ).first()
    assert (row.n_keys, row.keys_csv, row.b_val, row.total) == (3, "a,b,c", 4, 12)


def test_dedup_canonical_invariants(spark):
    """Canonical selection: exactly one canonical per component, the
    canonical is a member of its own component, and it is the longest
    doc (ties to the smallest doc_id)."""
    import __spark_entry__ as entrymod

    rows = (
        entrymod.queries()["q_dedup_canonical"](spark, "/root/testdata/sf0.001")
        .collect()
    )
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        canon = [r for r in members if r.is_canonical]
        assert len(canon) == 1, f"component {comp}: {len(canon)} canonicals"
        assert canon[0].canonical_id == canon[0].doc_id
        # all members agree on the same canonical_id
        assert {r.canonical_id for r in members} == {canon[0].doc_id}
    # every doc appears exactly once
    assert len(rows) == len({r.doc_id for r in rows})


def test_tfidf_top_terms_shape(spark):
    """TF-IDF: at most 3 terms per doc, every score positive and finite,
    rank ordering consistent with the emitted score."""
    import math

    import __spark_entry__ as entrymod

    rows = (
        entrymod.queries()["q_tfidf_top_terms"](spark, "/root/testdata/sf0.001")
        .collect()
    )
    per_doc = {}
    for r in rows:
        assert r.score > 0 and math.isfinite(r.score)
        per_doc.setdefault(r.doc_id, []).append(r)
    assert per_doc, "no rows"
    for doc, terms in per_doc.items():
        assert 1 <= len(terms) <= 3
        assert len({t.token for t in terms}) == len(terms)


def test_resize_payload_fixed_size(spark):
    """Binary→binary resize plumbing: every output payload is exactly
    target_bytes — long inputs truncated, short ones zero-padded, null
    becomes all-zeros."""
    from flink_wikipedia_spark.operators.multimodal import resize_payload

    df = spark.createDataFrame(
        [(1, "image", b"x" * 200), (2, "image", b"ab"), (3, "audio", None)],
        "asset_id long, modality string, payload binary",
    )
    out = {r.asset_id: bytes(r.payload) for r in resize_payload(df, target_bytes=16).collect()}
    assert out[1] == b"x" * 16
    assert out[2] == b"ab" + b"\x00" * 14
    assert out[3] == b"\x00" * 16


def test_sample_frames_fanout(spark):
    """Frame sampling fan-out: clamp(n_bytes//64, 1, 4) frames, offsets
    at stride boundaries, tail frame length capped by remaining bytes."""
    from flink_wikipedia_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, "video", b"v" * 300), (2, "audio", b"a" * 10), (3, "video", None)],
        "asset_id long, modality string, payload binary",
    )
    rows = sample_frames(df).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    assert len(by_asset[1]) == 4            # 300 // 64 = 4
    assert [r.frame_offset for r in sorted(by_asset[1], key=lambda r: r.frame_idx)] == [0, 75, 150, 225]
    assert all(r.frame_len == 32 for r in by_asset[1])
    assert len(by_asset[2]) == 1 and by_asset[2][0].frame_len == 10
    assert len(by_asset[3]) == 1 and by_asset[3][0].frame_len == 0


def test_doc_chunks_invariants(spark):
    """Chunking (q_doc_chunks): every token is covered, stride/overlap
    are exact, the tail chunk is never empty, and a short doc yields
    exactly one full-doc chunk."""
    from flink_wikipedia_spark.plans import REGISTRY

    rows = REGISTRY["q_doc_chunks"].fn(spark, "/root/testdata/sf0.001").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        assert all(c.chunk_start == c.chunk_idx * 48 for c in chunks)
        assert all(0 < c.n_chunk_tokens <= 64 for c in chunks)
        # full window everywhere but the tail
        assert all(c.n_chunk_tokens == 64 for c in chunks[:-1])
        # coverage: last chunk reaches the end of the token stream, and
        # each chunk starts inside (or at the edge of) the previous one
        last = chunks[-1]
        n_tokens = last.chunk_start + last.n_chunk_tokens
        assert all(c.chunk_start < n_tokens for c in chunks)
        if len(chunks) == 1:
            assert len(last.chunk_text.split(" ")) == n_tokens


def test_contamination_check_self_overlap(spark):
    """Contamination (q_contamination_check): benchmark docs are
    excluded from the output; a doc sharing no 5-grams with the
    benchmark set scores 0; flags agree with the reported fraction."""
    from flink_wikipedia_spark.plans import REGISTRY

    rows = REGISTRY["q_contamination_check"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r.doc_id % 97 != 0           # benchmark side excluded
        assert 0 <= r.n_shared <= r.n_ngrams
        assert abs(r.overlap_frac - r.n_shared / r.n_ngrams) < 1e-12
        assert r.contaminated == (r.overlap_frac >= 0.2)


def test_asof_join_cogrouped_matches_builtin(spark):
    """The Arrow cogroup as-of join is pinned to the codegen
    union+window form on both the corner-case fixture and a larger
    deterministic set."""
    from flink_wikipedia_spark.operators.relational import asof_join_cogrouped

    left = spark.createDataFrame([(1, 100), (1, 205), (2, 50)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 90, 9.0), (1, 100, 10.0), (1, 200, 20.0), (2, 60, 6.0)],
        "k long, t long, v double",
    )
    a = asof_join(left, right, on="k", left_ts="t", right_ts="t", value_cols=["v"])
    b = asof_join_cogrouped(
        left, right, on="k", left_ts="t", right_ts="t", value_cols=["v"]
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    # larger deterministic set: 500 left probes over 200 right quotes
    L = spark.range(500).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 13 % 1000).alias("t")
    )
    R = spark.range(200).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 31 % 1000).alias("t"),
        (F.col("id") * 1.5).alias("v"),
    ).groupBy("k", "t").agg(F.max("v").alias("v"))  # unique (k, ts)
    a2 = asof_join(L, R, on="k", left_ts="t", right_ts="t", value_cols=["v"])
    b2 = asof_join_cogrouped(L, R, on="k", left_ts="t", right_ts="t", value_cols=["v"])
    assert sorted(map(tuple, a2.collect())) == sorted(map(tuple, b2.collect()))
