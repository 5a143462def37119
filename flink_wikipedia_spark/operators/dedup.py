"""Deduplication operators (north star E1 family): exact, MinHash+LSH,
SimHash, n-gram Jaccard. Embedding near-dup lives in similarity.py.

Every hash derives from md5 (engine-portable, compat.stable_token_hash),
reduced below 2^20 so all MinHash arithmetic stays inside int64 under
ANSI overflow checking on both engines.

Scale shape, common to MinHash and SimHash: explode(tokens) → narrow map
→ ONE groupBy(doc) shuffle to fold signatures. Signatures are tiny
(8 longs / 1 long per doc) regardless of document size, so the candidate
-pair join operates on a table ~1000× smaller than the corpus — that
compression is the whole point at 100 TB (never pairwise-compare raw
documents).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_wikipedia_spark.functions.compat import stable_token_hash
from flink_wikipedia_spark.functions.constants import (
    HM_MOD,
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    MINHASH_P,
    MINHASH_ROWS_PER_BAND,
    SIMHASH_BITS,
)


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, distinct token-hash) pairs — the set representation both
    sketches consume. hm < HM_MOD ≈ 2^20."""
    return (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .select(id_col, (stable_token_hash("token") % HM_MOD).alias("hm"))
        .distinct()
    )


def _hm_sql(token: str) -> str:
    """``stable_token_hash(token) % HM_MOD`` as Spark-SQL text."""
    return f"CAST(conv(substring(md5({token}), 1, 15), 16, 10) AS BIGINT) % {HM_MOD}"


def _hms_sql(text_col: str) -> str:
    """A text's non-empty token hashes (``_hm_sql``) as a Spark-SQL array."""
    return f"transform(filter(split(lower({text_col}), ' '), t -> t != ''), t -> {_hm_sql('t')})"


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """MinHash signature per document: sig_i = min over tokens of
    (A[i]·hm + B[i]) mod P, i < 8.

    Deliberately NOT fed from _doc_tokens: min is duplicate-insensitive,
    so the per-(doc, hm) distinct — a full shuffle of the largest
    intermediate in the dedup family — adds nothing here. Token rows go
    straight into the groupBy's map-side partial min; set semantics
    still hold because min over a multiset equals min over its support.
    (Jaccard keeps _doc_tokens — intersection/union sizes DO need
    distinct.)

    Built from Spark-SQL strings (the :func:`minhash_sig_cols`
    rationale: one py4j round trip per expression instead of one per
    DSL node; the optimized plan is identical). ``id_col`` and
    ``text_col`` are spliced verbatim, so they follow the same
    backquoting contract."""
    toks = (
        df.selectExpr(id_col, f"explode(split(lower({text_col}), ' ')) AS token")
        .where("token != ''")
        .selectExpr(id_col, f"{_hm_sql('token')} AS hm")
    )
    return toks.groupBy(id_col).agg(
        *[
            F.expr(f"min((hm * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS sig_{i}")
            for i in range(MINHASH_NUM_HASHES)
        ]
    )


def _band_sql(band: int) -> str:
    """One band's bucket key as SQL text, valid in Spark and DuckDB."""
    lo = band * MINHASH_ROWS_PER_BAND
    cols = ", ".join(f"sig_{i}" for i in range(lo, lo + MINHASH_ROWS_PER_BAND))
    return f"md5(concat_ws('_', {cols}))"


def minhash_band_col(band: int) -> Column:
    """Collapse one band (ROWS_PER_BAND signature slots) into a single
    bucket key: md5 of the '_'-joined slots (strings sidestep int64
    overflow for r > 2 and are engine-portable)."""
    return F.expr(_band_sql(band))


def minhash_sig_cols(text_col: str = "text") -> list[Column]:
    """ROW-LOCAL MinHash signature: the same sig_i values as
    :func:`minhash_signatures`, computed as per-row array folds
    (split → hash per token → array_min per hash function) instead of
    explode + groupBy — ZERO exchanges, so it composes into a
    STREAMING stateless projection (the near-dup gate's input) or any
    map-only stage. min over the token array equals min over the
    grouped rows by construction; bit-equality with the batch operator
    is pinned in tests/test_neardup_stream.py.

    A doc with no tokens yields null sigs (array_min of empty) — the
    batch operator emits NO row for such docs; callers must filter or
    gate empties first (the curation stream's quality gate does).

    Each sig is ONE Spark-SQL string parsed JVM-side (the
    simhash_fingerprints rationale above: the DSL form paid a py4j
    round trip per lambda/plumbing node — hundreds per plan build; the
    string parses to the identical Catalyst tree, bit-equality pinned
    by test_rowlocal_sigs_match_batch_operator).

    Contract: ``text_col`` is spliced verbatim into that SQL string, so
    it must be a bare identifier or a SQL fragment; a column name with
    spaces, dashes or a reserved word must be backquoted by the caller
    (`my text`), as in any spark.sql text."""
    return [
        F.expr(
            f"array_min(transform({_hms_sql(text_col)}, "
            f"h -> (h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}))"
        ).alias(f"sig_{i}")
        for i in range(MINHASH_NUM_HASHES)
    ]


MAX_BUCKET_FOR_PAIRS = 64


def _band_rows(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bucket): one row per document and band."""
    buckets = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_band_sql(b)})" for b in range(MINHASH_BANDS)
    )
    return sigs.selectExpr(id_col, f"explode(array({buckets})) AS bb").selectExpr(
        id_col, "bb.band", "bb.bucket"
    )


def minhash_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", max_bucket: int = MAX_BUCKET_FOR_PAIRS
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become a candidate pair
    (doc_a < doc_b, distinct).

    **Bucket-size cap**: buckets holding > max_bucket docs are skipped —
    pairwise enumeration inside a dense bucket is O(n²) by definition
    and tells you nothing pairwise Jaccard wouldn't; dense buckets are
    whole dup-clusters and are handled as units by
    :func:`minhash_dedup_clusters`. This cap is what keeps the operator
    sub-quadratic on corpora with giant near-dup families (at 100 TB a
    single boilerplate page can have millions of copies).

    Because buckets are capped, pairs are enumerated LOCALLY per bucket
    (collect the ≤64 sorted ids, expand combinations with array
    higher-order functions) — one shuffle on (band, bucket), no
    self-join, no second scan of the signature subtree."""
    pairs = (
        "flatten(transform(sequence(1, size(_ids) - 1), i -> transform("
        "slice(_ids, i + 1, size(_ids) - i), "
        "b -> named_struct('doc_a', get(_ids, i - 1), 'doc_b', b))))"
    )
    return (
        _band_rows(sigs, id_col)
        .groupBy("band", "bucket")
        .agg(F.expr(f"sort_array(collect_list({id_col})) AS _ids"))
        .where(f"size(_ids) BETWEEN 2 AND {max_bucket}")
        .selectExpr(f"explode({pairs}) AS p")
        .selectExpr("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_dedup_clusters(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Cluster-level dedup: every band-0 bucket with ≥2 docs is a
    near-dup cluster; keep min(doc_id), count the rest. Linear in corpus
    size regardless of cluster fan-out — the 100 TB companion to the
    pair view."""
    return (
        _band_rows(sigs, id_col)
        .where("band = 0")
        .groupBy("bucket")
        .agg(F.expr(f"min({id_col}) AS keeper_doc_id"), F.expr("count(1) AS n_members"))
        .where("n_members >= 2")
    )


def sql_minhash_signatures_duckdb(table: str = "documents",
                                  id_col: str = "doc_id",
                                  text_col: str = "text") -> str:
    """DuckDB twin of :func:`minhash_signatures` (same constants)."""
    aggs = ",\n           ".join(
        f"MIN((hm * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS sig_{i}"
        for i in range(MINHASH_NUM_HASHES)
    )
    return f"""
    SELECT {id_col}, {aggs}
    FROM (
        SELECT DISTINCT {id_col},
               CAST('0x' || substring(md5(token),1,15) AS BIGINT) % {HM_MOD} AS hm
        FROM (SELECT {id_col}, unnest(string_split(lower({text_col}), ' ')) AS token
              FROM {table})
        WHERE token <> ''
    )
    GROUP BY {id_col}
    """


def _sql_band_rows(id_col: str) -> str:
    """Band rows over a CTE named ``sigs`` (callers define it)."""
    return " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, {_band_sql(b)} AS bucket FROM sigs"
        for b in range(MINHASH_BANDS)
    )


def sql_minhash_pairs_duckdb(
    table: str = "documents",
    id_col: str = "doc_id",
    max_bucket: int = MAX_BUCKET_FOR_PAIRS,
) -> str:
    # sigs/bands MATERIALIZED: DuckDB inlines plain CTEs, and bands is
    # referenced twice (small + pruned) with sigs referenced once per
    # band inside it — at sf100 the re-inlined tokenize+DISTINCT over
    # 5M docs spilled past a 24 GB temp cap before any join ran.
    # Materializing pins one computation per stage (same fix as the
    # dedup-pipeline oracles, queries_dedup.py).
    return f"""
    WITH sigs AS MATERIALIZED ({sql_minhash_signatures_duckdb(table, id_col)}),
    bands AS MATERIALIZED ({_sql_band_rows(id_col)}),
    small AS (
        SELECT band, bucket FROM bands GROUP BY band, bucket
        HAVING COUNT(*) <= {max_bucket}
    ),
    pruned AS (SELECT bands.* FROM bands JOIN small USING (band, bucket))
    SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
    FROM pruned a JOIN pruned b
      ON a.band = b.band AND a.bucket = b.bucket AND a.{id_col} < b.{id_col}
    """


def sql_minhash_clusters_duckdb(table: str = "documents", id_col: str = "doc_id") -> str:
    return f"""
    WITH sigs AS MATERIALIZED ({sql_minhash_signatures_duckdb(table, id_col)}),
    bands AS ({_sql_band_rows(id_col)})
    SELECT bucket, MIN({id_col}) AS keeper_doc_id, COUNT(*) AS n_members
    FROM bands WHERE band = 0
    GROUP BY bucket HAVING COUNT(*) >= 2
    """


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash: per bit j, S_j = Σ_tokens (±1 by bit j of hm);
    fingerprint = Σ_j [S_j > 0]·2^j. Token multiplicity weights the vote
    (no distinct — frequency matters for SimHash).

    Computed ROW-LOCALLY: a SimHash depends only on its own document,
    so the explode → groupBy(doc) formulation (which shuffles every
    token row) is replaced by per-row higher-order folds over the token
    array — a pure map, zero exchanges, same integers. The token-hash
    array is materialized in its own projection; with 16 downstream
    references CollapseProject keeps it shared instead of re-inlining
    the md5 per bit."""
    # Whole expression as ONE Spark-SQL string parsed JVM-side: the DSL
    # form built 16 aggregate folds in a Python loop — ~1,300 py4j round
    # trips ≈ 0.5 s of driver wall per plan build (the lsh_bucket_expr
    # string-branch rationale; identical Catalyst tree, bit-identical
    # results — pinned by the oracle gate and tests/test_operators.py).

    # token-less docs emit nothing (parity with the groupBy form); the
    # guard is a cheap string predicate — a size(_hms) > 0 filter gets
    # predicate-pushed below the projection and recomputes the whole
    # md5 transform per row (the explode-filter trap, see memory)
    with_hms = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col), F.expr(_hms_sql(text_col)).alias("_hms")
    )
    fp_terms = ["CAST(0 AS BIGINT)"]
    for j in range(SIMHASH_BITS):
        s_j = (
            f"aggregate(_hms, CAST(0 AS BIGINT), "
            f"(acc, h) -> acc + (shiftright(h, {j}) & 1) * 2 - 1)"
        )
        fp_terms.append(f"(CASE WHEN {s_j} > 0 THEN {2 ** j} ELSE 0 END)")
    return with_hms.select(
        F.col(id_col), F.expr(" + ".join(fp_terms)).alias("simhash")
    )


def sql_simhash_duckdb(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    sums = ",\n           ".join(
        f"SUM(((hm >> {j}) & 1) * 2 - 1) AS s_{j}" for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
        SELECT {id_col},
               CAST('0x' || substring(md5(token),1,15) AS BIGINT) % {HM_MOD} AS hm
        FROM (SELECT {id_col}, unnest(string_split(lower({text_col}), ' ')) AS token
              FROM {table})
        WHERE token <> ''
    ), sums AS (
        SELECT {id_col}, {sums} FROM toks GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({fp} AS BIGINT) AS simhash FROM sums
    """


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_id: int = 100,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram (token-set) Jaccard over a bounded candidate set:
    |A∩B| via token equi-join, |A∪B| = |A|+|B|−|A∩B|.

    The max_id bound models the real pattern: exact Jaccard only ever
    runs on candidate pairs (e.g. MinHash survivors), never all-pairs.
    jaccard = int/int division — deterministic double."""
    toks = _doc_tokens(df.filter(F.col(id_col) < max_id), id_col, text_col)
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    a = toks.select(F.col(id_col).alias("doc_a"), "hm")
    b = toks.select(F.col(id_col).alias("doc_b"), "hm")
    inter = (
        a.join(b, "hm")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_tok").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def sql_jaccard_pairs_duckdb(table: str = "documents", id_col: str = "doc_id",
                             text_col: str = "text", max_id: int = 100,
                             threshold: float = 0.3) -> str:
    return f"""
    WITH toks AS (
        SELECT DISTINCT {id_col},
               CAST('0x' || substring(md5(token),1,15) AS BIGINT) % {HM_MOD} AS hm
        FROM (SELECT {id_col}, unnest(string_split(lower({text_col}), ' ')) AS token
              FROM {table} WHERE {id_col} < {max_id})
        WHERE token <> ''
    ), sizes AS (
        SELECT {id_col}, COUNT(*) AS n_tok FROM toks GROUP BY {id_col}
    ), inter AS (
        SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, COUNT(*) AS n_inter
        FROM toks a JOIN toks b ON a.hm = b.hm AND a.{id_col} < b.{id_col}
        GROUP BY a.{id_col}, b.{id_col}
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.{id_col} = doc_a
    JOIN sizes sb ON sb.{id_col} = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) >= {threshold}
    """
