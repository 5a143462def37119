"""Similarity search over embedding columns (north star E2):
brute-force cosine top-k (the correctness baseline) and an LSH-bucketed
variant (the 100 TB path). Embedding near-dup detection reuses the same
cosine kernel.

Cosine is computed with built-in higher-order array functions
(zip_with + aggregate) — JVM codegen, no Python. The fold is strictly
left-to-right on both engines, and inputs are cast element-wise
float→double (exact), so Spark and the DuckDB oracle produce
bit-identical similarities, rounded to 6 dp for belt-and-braces.

Scale design (the part that matters at 100 TB):
- brute force is O(|Q|·|C|); it exists as the oracle-checkable baseline
  and for small |Q| with a broadcast query set;
- the LSH variant buckets vectors by the sign pattern of 8 fixed
  hyperplane projections → candidates collide in expected-similar
  buckets; the join is an equi-join on bucket id, so the cross product
  never materializes. More planes/band-OR repetitions trade recall for
  candidate count — constants live in functions/constants.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_wikipedia_spark.functions.constants import LSH_NUM_PLANES, LSH_PLANES


def _fold_sum(arr: Column) -> Column:
    """Left-to-right double sum of an array (deterministic fold order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


# String (Spark-SQL) twins of the vector folds below. Same rationale as
# lsh_bucket_expr's string branch: the DSL form pays a py4j round trip
# per node and per lambda (~0.4 ms each — cProfile on q_ann_ivfpq_refined
# showed 2,315 round trips ≈ 0.9 s of DRIVER wall per plan build), while
# the string form is ONE JVM-side parse into the identical Catalyst tree,
# so results are bit-identical. Pass column NAMES (or any SQL fragment)
# where available; the Column overloads stay for derived expressions.
#
# CONTRACT (ADVICE r15): arguments are spliced VERBATIM as raw SQL
# fragments — a name that is not a bare identifier (spaces, dashes,
# reserved words) must be backquoted by the CALLER (`a b`), exactly as
# in any spark.sql text; the Column overload handles arbitrary names.

def sql_dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def sql_dist2_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        f"* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def sql_cosine_spark(a: str, b: str) -> str:
    return (
        f"{sql_dot_spark(a, b)} / "
        f"(sqrt({sql_dot_spark(a, a)}) * sqrt({sql_dot_spark(b, b)}))"
    )


def dot_expr(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(sql_dot_spark(a, b))
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b))) — exact expression
    mirrored in SQL by the sql_cosine_duckdb template."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(sql_cosine_spark(a, b))
    return dot_expr(a, b) / (F.sqrt(dot_expr(a, a)) * F.sqrt(dot_expr(b, b)))


def sql_dot_duckdb(a: str, b: str) -> str:
    """DuckDB twin of dot_expr: same element order, same fold order.

    list_zip instead of range-indexing (round 7): the old
    ``list_transform(range(len(a)), i -> a[i+1]*b[i+1])`` re-evaluated
    BOTH list expressions per element — for a literal plane the 64-entry
    list was reconstructed 64 times per row, and even for columns each
    ``[i+1]`` is an O(n) extract, making every dot product O(n²). The
    zip form builds each side once and walks pairs in index order —
    measured 100× on the LSH bucket expression (1.97 s → 0.02 s per
    plane over 2 K rows) and verified BIT-IDENTICAL on real embeddings
    (same products, same left-fold adds; DuckDB's list_dot_product was
    rejected — different summation order, 2000/2000 rows differed)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def sql_cosine_duckdb(a: str, b: str) -> str:
    return (
        f"{sql_dot_duckdb(a, b)} / "
        f"(sqrt({sql_dot_duckdb(a, a)}) * sqrt({sql_dot_duckdb(b, b)}))"
    )


def lsh_bucket_expr(vec: Column | str) -> Column:
    """LSH bucket id: Σ_j [dot(vec, plane_j) > 0]·2^j over the fixed
    integer-valued hyperplanes (plan literals — no broadcast needed).

    Hyperplane components are small integers, so each projection is an
    exact double computation on both engines.

    Pass the COLUMN NAME (str) where possible: the string form renders
    the whole 8-plane × 64-literal tree as ONE SQL expression parsed
    JVM-side — the DSL form issues ~600 py4j round trips and cost
    ~0.8 s of driver time per plan build (round-9 profile, same
    pathology as the PQ tables in queries_similarity._pq_d2_frame).
    Both forms resolve to identical Catalyst trees, so results are
    bit-identical; the Column form stays for derived expressions."""
    if isinstance(vec, str):
        terms = ["CAST(0 AS BIGINT)"]
        for j in range(LSH_NUM_PLANES):
            lits = ", ".join(f"{c!r}D" for c in LSH_PLANES[j])
            dot = (
                f"aggregate(zip_with({vec}, array({lits}), "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"0.0D, (acc, v) -> acc + v)"
            )
            terms.append(f"(CASE WHEN {dot} > 0.0D THEN {2 ** j} ELSE 0 END)")
        return F.expr(" + ".join(terms))
    bucket: Column = F.lit(0).cast("long")
    for j in range(LSH_NUM_PLANES):
        plane = F.array(*[F.lit(c) for c in LSH_PLANES[j]])
        bucket = bucket + F.when(dot_expr(vec, plane) > 0.0, F.lit(2**j)).otherwise(
            F.lit(0)
        )
    return bucket


def sql_lsh_bucket_duckdb(vec: str) -> str:
    terms = []
    for j in range(LSH_NUM_PLANES):
        lits = ", ".join(
            f"{c:.1f}" for c in LSH_PLANES[j]
        )
        terms.append(
            f"(CASE WHEN {sql_dot_duckdb(vec, f'[{lits}]')} > 0.0 "
            f"THEN {2**j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def sql_dist2_duckdb(a: str, b: str) -> str:
    """Same list_zip rewrite as sql_dot_duckdb (see there)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        f"s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)) * "
        f"(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE)))), "
        f"(acc, v) -> acc + v)"
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its n_probe nearest
    centroid cells (rank by rounded squared-L2, centroid id tie-break).

    The centroid table is tiny by construction (a real deployment trains
    k-means offline; here the first NC corpus vectors serve as fixed
    centroids) and broadcasts — assignment is a narrow map over the
    corpus, one pass, no shuffle until the ranking window on vec_id.
    ``id_col`` and ``vec_col`` are spliced into a selectExpr string
    (the CONTRACT above sql_dot_spark): backquote non-bare names.

    Measured dead end (round 6, sf1, interleaved A/B with shuffle-byte
    capture): replacing the n_probe=1 ranking with
    ``min(struct(_d2, centroid_id, vec))`` — "partial agg collapses the
    |cells|× expansion before the shuffle, must beat the window" — is a
    net LOSS. Spark's WindowGroupLimit rule already runs a *Partial*
    top-1 per key below the exchange (see PLANS.md, q_semantic_dedup
    plan), so the window's shuffle is |corpus| rows too; and the struct
    aggregate DEFEATS column pruning — Catalyst cannot prune a field out
    of min(struct(...)), so callers that drop the vector right after
    assignment (q_ivfpq_search) shuffled 6.08 MB vs 0.84 MB, and
    q_semantic_dedup 5.69 MB vs 0.44 MB, with wall time equal-or-worse
    on 3 of 4 consumers. Group-limit + pruning beat a hand-rolled
    combine; keep the declarative form."""
    from pyspark.sql import Window

    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_cent")
    )
    scored = vectors.crossJoin(F.broadcast(c)).selectExpr(
        id_col,
        vec_col,
        "centroid_id",
        # string-form fold: one JVM parse, not ~300 py4j round trips
        # (see sql_dot_spark block) — identical Catalyst tree
        f"round({sql_dist2_spark(vec_col, '_cent')}, 6) AS _d2",
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_d2").asc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_probe)
        .select(id_col, vec_col, "centroid_id")
    )


def topk_cosine(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    all candidates, rank per query on round(sim, 6) with id tie-break.

    Per-query ranking uses the window top-k pattern — one shuffle on
    query_id, never a global sort."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("_qv", "_cv"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


# --- Trained IVF-PQ index (sample-trained k-means, FAISS-style) -------------
#
# The fixed-centroid IVF above (ivf_assign with corpus-prefix centroids)
# and the synthetic PQ codebooks in plans/queries_similarity.py exist for
# oracle-exact correctness checking. A PRODUCTION index trains both
# quantizers on the data — that is what makes ANN recall real instead of
# coincidental. The training recipe below is the standard 100 TB shape:
# k-means runs DRIVER-SIDE on a bounded random sample (FAISS trains IVF
# on ~30-256 vectors/cell, far below corpus size; at cluster scale the
# sample is a `df.sample(...).limit(cap).collect()` — a few MB), and the
# trained centroids/codebooks ship to executors as plan literals, so
# index APPLICATION — the part that touches every row — stays a
# broadcast-free, shuffle-free map.

ANN_TRAIN_SAMPLE = 4096  # driver-side training sample cap (rows)
_ANN_INDEX_CACHE: dict = {}


def _kmeans_np(data, k: int, iters: int, seed: int):
    """Deterministic Lloyd's k-means (numpy, fixed iteration count —
    no convergence-dependent early exit, so results are reproducible
    bit-for-bit across runs and machines)."""
    import numpy as np

    r = np.random.default_rng(seed)
    cents = data[r.choice(len(data), k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((data[:, None, :] - cents[None, :, :]) ** 2).sum(2)
        a = d2.argmin(1)
        for j in range(k):
            if (a == j).any():
                cents[j] = data[a == j].mean(0)
    return cents


def train_ivfpq_index(
    sf_dir: str,
    n_cells: int = 16,
    pq_m: int = 8,
    pq_k: int = 16,
    iters: int = 25,
    seed: int = 42,
):
    """Train coarse (IVF) and product-quantizer codebooks on a sample of
    the embeddings table. Returns (coarse_centroids [n_cells × dim],
    codebooks [pq_m × pq_k × dim/pq_m]) as float64 numpy arrays, cached
    per (file, content-fingerprint, params) so repeated query builds
    don't retrain. The fingerprint is size + md5 of the parquet footer
    (which carries row-group statistics, so any data rewrite changes it)
    rather than mtime — an in-place rewrite by the data generator that
    lands within mtime granularity can't serve a stale index (ADVICE r6).

    Driver-side by design (see section comment): the sample read is a
    bounded pyarrow scan of the first ANN_TRAIN_SAMPLE rows — at cluster
    scale this becomes a distributed `.sample().limit().collect()`, and
    everything downstream is identical."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "embeddings.parquet")
    import hashlib

    st = os.stat(path)
    size = st.st_size
    with open(path, "rb") as fh:
        fh.seek(max(0, size - 65536))
        footprint = hashlib.md5(fh.read()).hexdigest()
    # size + footer hash + mtime_ns (ADVICE r7): the footer carries
    # row-group stats so data rewrites normally change it, but a
    # same-size rewrite touching only early row groups could leave the
    # final 64 KB identical — mtime_ns is the zero-cost belt-and-braces
    # that catches exactly that in-place case.
    key = (path, size, footprint, st.st_mtime_ns, n_cells, pq_m, pq_k, iters, seed)
    hit = _ANN_INDEX_CACHE.get(key)
    if hit is not None:
        return hit
    pf = pq.ParquetFile(path)
    batches = []
    need = ANN_TRAIN_SAMPLE
    for batch in pf.iter_batches(columns=["embedding"], batch_size=1024):
        batches.append(batch)
        need -= batch.num_rows
        if need <= 0:
            break
    col = pa.Table.from_batches(batches).column("embedding")
    X = np.array(col.to_pylist(), dtype=np.float64)[:ANN_TRAIN_SAMPLE]
    dim = X.shape[1]
    cents = _kmeans_np(X, n_cells, iters, seed)
    sub = X.reshape(len(X), pq_m, dim // pq_m)
    cbs = np.stack(
        [_kmeans_np(sub[:, m, :], pq_k, iters, seed=100 + m) for m in range(pq_m)]
    )
    _ANN_INDEX_CACHE[key] = (cents, cbs)
    return cents, cbs


def matrix_literal(mat) -> Column:
    """A 2-D numpy array as a plan-literal array<array<double>>."""
    return F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in mat]
    )


def pq_d2_cols(vec_col: Column | str, codebooks) -> list[Column]:
    """Per-subspace squared-L2 distance tables against a trained
    codebook array [M × K × sub_dim]: column m is a K-element array —
    for a corpus vector its argmin is the PQ code, for a query vector
    it IS the ADC lookup table. Pure literal expressions: index
    application is a map, JVM codegen, no Python, no shuffle.

    Pass the COLUMN NAME (str) where possible: the trained 8×16×8
    codebook is ~1K literals, and the DSL form pays a py4j round trip
    per literal (~1-2 s of driver time per plan build, round-9
    profile); the string form is one JVM-side parse into the identical
    Catalyst tree. repr(float) round-trips exactly through
    Double.parseDouble, so trained values survive bit-exact."""
    m_, k_, sub_dim = codebooks.shape
    if isinstance(vec_col, str):
        cols = []
        for m in range(m_):
            cents = ", ".join(
                "array(" + ", ".join(f"{float(c)!r}D" for c in row) + ")"
                for row in codebooks[m]
            )
            cols.append(
                F.expr(
                    f"transform(array({cents}), cv -> aggregate("
                    f"zip_with(slice({vec_col}, {m * sub_dim + 1}, {sub_dim}),"
                    f" cv, (x, c) -> (CAST(x AS DOUBLE) - c)"
                    f" * (CAST(x AS DOUBLE) - c)), 0.0D,"
                    f" (acc, v) -> acc + v))"
                ).alias(f"d2_{m}")
            )
        return cols
    cols = []
    for m in range(m_):
        sub = F.slice(vec_col, m * sub_dim + 1, sub_dim)
        cents = matrix_literal(codebooks[m])
        cols.append(
            F.transform(
                cents,
                lambda cv: F.aggregate(
                    F.zip_with(
                        sub,
                        cv,
                        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            ).alias(f"d2_{m}")
        )
    return cols


def pq_encode_pandas(
    df: DataFrame, codebooks, vec_col: str = "embedding"
) -> DataFrame:
    """PQ codes for the full-corpus encode scan: column ``code_m`` is
    the index of the nearest codebook entry of subspace m (argmin of
    the squared-L2 distances pq_d2_cols computes; first minimum = lowest
    code on ties). Each Arrow batch becomes one vectorized numpy
    distance computation ([B × sub] against [K × sub] per subspace)
    instead of B interpreted expression folds — measured faster at
    every scale (SCALE.md §"Corpus-encode scorer A/B"). Map-only; the
    codebooks ride the pickled closure (a few KB)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    m_, _k, sub = codebooks.shape
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    keep = [f for f in df.schema.fields if f.name != vec_col]
    schema = StructType(
        keep + [StructField(f"code_{m}", IntegerType(), False) for m in range(m_)]
    )
    keep_names = [f.name for f in keep]

    def encode(batches):
        for pdf in batches:
            out = pdf[keep_names].copy()
            if len(pdf):
                x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                xs = x.reshape(len(x), m_, sub)
                for m in range(m_):
                    d2 = ((xs[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
                    out[f"code_{m}"] = d2.argmin(1).astype("int32")
            else:
                for m in range(m_):
                    out[f"code_{m}"] = np.array([], dtype="int32")
            yield out

    return df.mapInPandas(encode, schema=schema)
