"""LLM-pipeline similarity search: brute-force cosine, hyperplane LSH, IVF, PQ, persisted ANN indexes, hashed embeddings."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import similarity as S
from bearly_spark.operators import text as T
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register
from bearly_spark.cache import derived_dir
from bearly_spark.registry._shared import _minhash_doc_pairs_sql


# ===================================================================
# LLM-pipeline: similarity search
# ===================================================================


@register(
    "embedding_topk_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    s AS (SELECT query_id, neighbor_id,
                 ROUND(list_cosine_similarity(qv, cv), 6) AS cosine_sim
          FROM q, c WHERE query_id <> neighbor_id),
    r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM s)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM r WHERE rn <= 10
    """,
)
def q_embedding_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


# --- Exact DuckDB twins for the hyperplane-LSH family -----------------
#
# The LSH paths were rows-only through round 2 ("seeded hyperplanes, no
# SQL twin") — but the hyperplanes are just a deterministic float64
# matrix, so they CAN be inlined into the oracle as literal arrays and
# the whole pipeline (signature bits -> band keys -> banded candidates ->
# exact-cosine rerank) re-expressed in SQL. repr() round-trips float64
# exactly, and both engines compute dot products in float64 (a sign flip
# would need |dot| ~ 1e-12; the planes are N(0,1) against unit-scale
# embeddings, so this never lands on the boundary).


def _plane_sql(plane) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _lsh_band_key_sqls(nbits: int, bands: int, vec: str = "ev") -> list[str]:
    """One SQL expression per band computing the SAME band key as
    ``similarity._band_structs`` over ``similarity._hyperplanes``:
    bkey_j = sum_t (sign bit of plane_{j*bpb+t}) << t."""
    planes = S._hyperplanes(64, nbits, seed=42)
    bpb = nbits // bands
    exprs = []
    for j in range(bands):
        terms = [
            f"(CASE WHEN list_dot_product({vec}, {_plane_sql(planes[j * bpb + t])})"
            f" >= 0 THEN {1 << t} ELSE 0 END)"
            for t in range(bpb)
        ]
        exprs.append("(" + " + ".join(terms) + ")")
    return exprs


def _ann_lsh_oracle() -> str:
    """Twin of ``lsh_ann_topk(nbits=56, bands=8, probe=1)``. Radius-1
    multi-probe on the query side means a corpus vector is a candidate
    iff some band's keys agree exactly OR differ in one bit — i.e.
    hamming(qkey, ckey) <= 1, which DuckDB spells bit_count(xor()) <= 1."""
    keys = _lsh_band_key_sqls(56, 8)
    key_cols = ", ".join(f"{e} AS b{j}" for j, e in enumerate(keys))
    probe_cond = " OR ".join(f"bit_count(xor(q.b{j}, c.b{j})) <= 1" for j in range(8))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    s AS (SELECT vec_id, ev, {key_cols} FROM v),
    q AS (SELECT * FROM s WHERE vec_id < 5),
    cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    q.ev AS qe, c.ev AS ce
             FROM q JOIN s c ON q.vec_id <> c.vec_id AND ({probe_cond})),
    r AS (SELECT query_id, neighbor_id,
                 ROUND(list_cosine_similarity(qe, ce), 6) AS cosine_sim FROM cand),
    t AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM r)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM t WHERE rn <= 10
    """


def _near_dup_oracle() -> str:
    """Twin of ``embedding_near_dup_pairs(threshold=0.4, nbits=12,
    bands=3, max_bucket=1000)`` including the bucket-size guard: a pair
    is a candidate iff the two ids share some (band, bkey) bucket whose
    size is in [2, 1000]; candidates then take an exact rounded-cosine
    filter."""
    keys = _lsh_band_key_sqls(12, 3)
    key_cols = ", ".join(f"{e} AS b{j}" for j, e in enumerate(keys))
    ex_union = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS band, b{j} AS bkey FROM s" for j in range(3)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    s AS (SELECT vec_id, ev, {key_cols} FROM v),
    ex AS ({ex_union}),
    ok AS (SELECT band, bkey FROM ex GROUP BY band, bkey
           HAVING COUNT(*) BETWEEN 2 AND 1000),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM ex a
             JOIN ex b ON a.band = b.band AND a.bkey = b.bkey
                      AND a.vec_id < b.vec_id
             JOIN ok ON ok.band = a.band AND ok.bkey = a.bkey)
    SELECT c.id_a, c.id_b,
           ROUND(list_cosine_similarity(va.ev, vb.ev), 6) AS cosine_sim
    FROM cand c
    JOIN v va ON va.vec_id = c.id_a
    JOIN v vb ON vb.vec_id = c.id_b
    WHERE ROUND(list_cosine_similarity(va.ev, vb.ev), 6) >= 0.4
    """


@register("embedding_ann_lsh", oracle=_ann_lsh_oracle())
def q_embedding_ann(spark, sf_dir):
    """Hyperplane-LSH ANN — the STREAMING-FRIENDLY FALLBACK path (the
    signature of a new vector needs no global model, so it works in a
    foreachBatch upsert); ``embedding_ann_ivf`` is the batch-scale
    default (better recall-per-scanned-row on every measured point).

    Operating point (nbits=56, bands=8, radius-1 multi-probe): measured
    recall@10 = 0.86 at 43% corpus scanned on sf0.1 — same scan fraction
    as the pre-multi-probe 32/8 point but +14pt recall (sweep in
    PLANS.md). Isotropic synthetic embeddings are the worst case for
    hashing ANN (top-10 cosine ~0.35-0.5 vs 0.5 background → per-bit
    discrimination 0.62 vs 0.50); ≤25% scan at ≥0.72 recall is not
    reachable by any (nbits≤64, bands, probe≤1) combination here, while
    clustered real corpora separate far better."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, nbits=56, bands=8, probe=1
    )


@register("embedding_near_dup", oracle=_near_dup_oracle())
def q_embedding_near_dup(spark, sf_dir):
    # The synthetic embeddings have no true near-dups (max pairwise cosine
    # ~0.5), so the demo threshold is 0.4; production near-dup would use
    # 0.95+. The planted-pair test in tests/ pins the high-threshold path.
    # Oracle: the full banded pipeline re-expressed in DuckDB with the
    # hyperplanes inlined as literals (see _near_dup_oracle). nbits/bands
    # are pinned EXPLICITLY to the oracle's operating point — the
    # operator default is now corpus-size auto-sizing (round 4), which
    # would legitimately pick a different width per scale factor.
    return S.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, nbits=12, bands=3
    )


def _embedding_clusters_oracle() -> str:
    """Twin of ``embedding_dup_clusters``: connected components
    (recursive min-label walk) over the DuckDB-recomputed near-dup pair
    graph (``_near_dup_oracle`` nested as a plain CTE)."""
    return f"""
    WITH RECURSIVE p AS ({_near_dup_oracle()}),
    e AS (SELECT id_a AS u, id_b AS v FROM p
          UNION SELECT id_b AS u, id_a AS v FROM p),
    walk(u, label) AS (
        SELECT u, u FROM e
        UNION
        SELECT e.v, w2.label FROM walk w2 JOIN e ON w2.u = e.u)
    SELECT u AS vec_id, MIN(label) AS cluster FROM walk GROUP BY u
    """


@register("embedding_dup_clusters", oracle=_embedding_clusters_oracle())
def q_embedding_dup_clusters(spark, sf_dir):
    """Cluster-mode semantic dedup (round 4): components over the
    embedding near-dup graph — (vec_id, cluster) labels for picking
    per-cluster representatives, completing the group-mode output
    family (minhash/winnowing gained it this round too). Same pinned
    12-bit/3-band operating point as ``embedding_near_dup`` so the twin
    stays exact."""
    return S.embedding_dup_clusters(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, nbits=12, bands=3
    )


def _lsh_saturation_oracle(nbits: int = 12, bands: int = 3, max_bucket: int = 1000) -> str:
    """Twin of ``banding_saturation_report`` at the fixed 12/3 point:
    band keys from the inlined hyperplanes, bucket sizes, one scalar
    aggregate."""
    keys = _lsh_band_key_sqls(nbits, bands)
    key_cols = ", ".join(f"{e} AS b{j}" for j, e in enumerate(keys))
    ex_union = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS band, b{j} AS bkey FROM s" for j in range(bands)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    s AS (SELECT vec_id, {key_cols} FROM v),
    ex AS ({ex_union}),
    b AS (SELECT band, bkey, COUNT(*) AS n FROM ex GROUP BY 1, 2)
    SELECT CAST({nbits} AS INTEGER) AS nbits, CAST({bands} AS INTEGER) AS bands,
           COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN n > {max_bucket} THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_buckets,
           CAST(SUM(CASE WHEN n > {max_bucket} THEN n ELSE 0 END) AS BIGINT)
             AS dropped_ids,
           MAX(n) AS max_bucket_size
    FROM b
    """


@register("lsh_saturation_embeddings", oracle=_lsh_saturation_oracle())
def q_lsh_saturation(spark, sf_dir):
    """Operating-point health check (``similarity.banding_saturation_
    report``): is the fixed 12-bit/3-band point saturating its bucket cap
    on this corpus? The pre-flight that makes LSH recall loss LOUD at
    scale (round-3 verdict: the fixed point silently drops candidates at
    ≥128k vectors — this one-row scalar aggregate is the check that
    cannot be pruned away, unlike piggybacked Observation metrics under
    AQE empty-relation propagation)."""
    return S.banding_saturation_report(
        load_table(spark, sf_dir, "embeddings"), nbits=12, bands=3
    )


@register("ann_index_query", oracle=_ann_lsh_oracle())
def q_ann_index_query(spark, sf_dir):
    """ANN top-k served from a MATERIALIZED parquet band index
    (``streaming.ann_index``) rather than an inline corpus signature
    pass — the batch face of the incrementally-maintained streaming
    index (each micro-batch upserts its band rows idempotently; a query
    probes the index as of the last committed batch). Same operating
    point and semantics as ``embedding_ann_lsh`` (nbits=56, bands=8,
    radius-1 multi-probe), so it shares that query's exact DuckDB twin:
    the index is just the persisted form of the same (id, band, bkey)
    blocking table. The index build here is the module's own
    ``upsert_index_batch`` (dynamic partition overwrite keyed on batch
    id) into a deterministic ``.scratch/`` dir reused across runs — i.e.
    the registry entry exercises the real index write + read +
    candidate-join + rerank path end-to-end without leaking an index
    per invocation."""
    from bearly_spark.streaming.ann_index import ann_query_over_index, upsert_index_batch

    emb = load_table(spark, sf_dir, "embeddings")
    index_dir, _ = derived_dir(
        sf_dir,
        "ann-index",
        [f"{sf_dir}/embeddings.parquet"],
        lambda d: upsert_index_batch(emb, 0, d, nbits=56, bands=8),
    )
    return ann_query_over_index(
        spark,
        index_dir,
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        nbits=56,
        bands=8,
        probe=1,
    )


def _dedup_index_oracle() -> str:
    """Twin of ``dedup_index_query``: the streaming detect step finds
    every near-dup pair with at least one side in the probing batch
    (here: odd doc ids) — exactly the full-corpus minhash pair set
    restricted to non-(even,even) pairs. Banding, caps and the Jaccard
    verify are the same md5-derived pipeline as ``_minhash_oracle``."""
    return f"""
    WITH {_minhash_doc_pairs_sql()},
    allp AS (SELECT id_a, id_b, jaccard FROM cross_pairs
             UNION ALL SELECT id_a, id_b, jaccard FROM same_pairs)
    SELECT id_a, id_b, jaccard FROM allp
    WHERE id_a % 2 = 1 OR id_b % 2 = 1
    """


@register("dedup_index_query", oracle=_dedup_index_oracle())
def q_dedup_index_query(spark, sf_dir):
    """Dedup AT INGEST (round 4, ``streaming.dedup_index``): near-dup
    detection of an arriving document batch against a MATERIALIZED
    MinHash band index — the streaming form of "is this new crawl page
    a near-duplicate of anything we already hold". The registry entry
    exercises the real path end-to-end: idempotent index upsert (bands
    + shingle-set sidecar + bucket-count deltas, dynamic partition
    overwrite per batch), capped candidate join, exact-Jaccard verify.
    Per-batch outputs union to the batch-mode answer (equivalence test
    in tests/test_streaming.py); the DuckDB twin is the batch minhash
    pair oracle restricted to pairs touching the probing batch — and
    since round 5 the streaming cap semantics MATCH the batch path
    (distinct-content HLL cap + exact-copy channel), so the twin's
    equality holds even on fixtures with > max_bucket exact copies of
    one text (round-4 ADVICE). The index builds once into a
    deterministic ``.scratch/`` dir reused across runs."""
    from bearly_spark.streaming.dedup_index import (
        near_dups_against_index,
        upsert_dedup_index_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    index_dir, _ = derived_dir(
        sf_dir,
        "dedup-index",
        [f"{sf_dir}/documents.parquet"],
        lambda d: upsert_dedup_index_batch(docs.filter(F.col("doc_id") % 2 == 0), 0, d),
    )
    return near_dups_against_index(
        spark,
        index_dir,
        docs.filter(F.col("doc_id") % 2 == 1),
        threshold=0.8,
        exclude_batch=1,
    )


def _hashed_embed_oracle(dim: int = 64, src: str = "documents") -> str:
    """Exact DuckDB twin of ``text.hashed_tf_embedding``: md5 is the one
    hash both engines implement identically, so the bucket assignment
    (first 6 hex chars of md5(lower(token)) as int, mod dim) reproduces
    exactly; counts are integers, the sum-of-squares is exact, and the
    L2-normalized values match bit-for-bit before the 6dp round.
    ``src`` is any relation exposing (doc_id, text) — the chunk-level
    retrieval twin passes the chunking CTE as a subquery."""
    hex_fold = " + ".join(
        f"(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1) * {16 ** (6 - i)}"
        for i in range(1, 7)
    )
    return f"""
    WITH tk AS (
        SELECT doc_id,
               lower(unnest([x for x in string_split_regex(text, '\\s+') if x <> ''])) AS tok
        FROM {src}),
    b AS (SELECT doc_id, ({hex_fold}) % {dim} AS bucket
          FROM (SELECT doc_id, substring(md5(tok), 1, 6) AS h FROM tk)),
    c AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
    s AS (SELECT doc_id, list({{'b': bucket, 'c': c}}) AS pairs FROM c GROUP BY doc_id),
    d AS (SELECT dd.doc_id,
                 [CAST(COALESCE(list_sum([p.c for p in COALESCE(s.pairs, []) if p.b = i]), 0) AS DOUBLE)
                  for i in range(0, {dim})] AS dense
          FROM {src} dd LEFT JOIN s ON s.doc_id = dd.doc_id),
    n AS (SELECT doc_id, dense, sqrt(list_sum([v * v for v in dense])) AS nrm FROM d)
    SELECT doc_id,
           [ROUND(v / (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END), 6) for v in dense]
               AS embedding
    FROM n
    """


@register(
    "hashed_embedding_documents",
    oracle=f"""
    WITH emb AS ({_hashed_embed_oracle()})
    SELECT doc_id,
           array_to_string([CAST(ROUND(v * 1000000) AS BIGINT)
                            for v in embedding], ',') AS embedding_micro
    FROM emb
    """,
)
def q_hashed_embedding(spark, sf_dir):
    """Feature-hashed TF embedding (model-free featurizer): turns the
    documents table into an embeddings-shaped (id, vector) table with
    nothing but JVM built-ins — the missing docs->vectors stage that
    closes the corpus -> embedding -> ANN/near-dup pipeline loop. See
    ``text.hashed_tf_embedding`` for the scale notes; oracle is exact
    because md5 is implemented identically in both engines. The
    compared surface joins the vector as comma-separated exact micro
    ints (array cells crash the driver harness's canonical sort and
    double->string formatting is engine-specific; the 6dp-rounded
    doubles are bit-equal, so scaling to 1e6 and half-up rounding
    yields identical integers)."""
    emb = T.hashed_tf_embedding(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", dim=64
    )
    return emb.select(
        "doc_id",
        F.array_join(
            F.transform(
                "embedding", lambda v: F.round(v * 1000000).cast("long")
            ),
            ",",
        ).alias("embedding_micro"),
    )


@register(
    "hashed_embedding_topk",
    oracle=f"""
    WITH emb AS ({_hashed_embed_oracle()}),
    q AS (SELECT doc_id AS query_id, embedding AS qv FROM emb WHERE doc_id < 3),
    c AS (SELECT doc_id AS neighbor_id, embedding AS cv FROM emb),
    s AS (SELECT query_id, neighbor_id,
                 ROUND(list_cosine_similarity(qv, cv), 6) AS cosine_sim
          FROM q, c WHERE query_id <> neighbor_id),
    r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM s)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM r WHERE rn <= 5
    """,
)
def q_hashed_embedding_topk(spark, sf_dir):
    """End-to-end model-free semantic search: documents -> feature-hashed
    TF embeddings -> exact cosine top-5 — the full docs->vectors->search
    pipeline in one query, oracle-checked END TO END (DuckDB re-derives
    the same embeddings from raw text and ranks with
    list_cosine_similarity). Composes ``text.hashed_tf_embedding`` with
    ``similarity.brute_force_topk``."""
    emb = T.hashed_tf_embedding(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", dim=64
    )
    return S.brute_force_topk(
        emb, emb.filter(F.col("doc_id") < 3), id_col="doc_id", vec_col="embedding", k=5
    )


#: (doc_id, text) relation of 64/16 context-window chunks with a packed
#: chunk key — the source the chunk-level retrieval twin feeds into the
#: shared hashed-embedding SQL. Mirrors ``chunk_documents_windows``'s
#: twin; the key packs as doc_id*100 + chunk_id (fixture docs are ≤ ~110
#: tokens → at most 3 chunks, far under the 100 slot width).
_CHUNK_SRC_SQL = r"""(
    WITH t0 AS (
      SELECT doc_id,
             [lower(x) for x in string_split_regex(text, '\s+') if x <> ''] AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    s0 AS (SELECT doc_id, toks,
                  CAST(GREATEST(1, ceil((len(toks) - 16) / 48.0)) AS INT) AS n_chunks
           FROM t0 WHERE len(toks) > 0)
    SELECT doc_id * 100 + CAST(u.i AS INT) AS doc_id,
           array_to_string(toks[(u.i*48 + 1):(u.i*48 + 64)], ' ') AS text
    FROM s0, UNNEST(range(n_chunks)) AS u(i)
)"""


@register(
    "chunk_embedding_topk",
    oracle=f"""
    WITH emb AS ({_hashed_embed_oracle(src=_CHUNK_SRC_SQL)}),
    q AS (SELECT doc_id AS query_id, embedding AS qv FROM emb WHERE doc_id < 300),
    c AS (SELECT doc_id AS neighbor_id, embedding AS cv FROM emb),
    s AS (SELECT query_id, neighbor_id,
                 ROUND(list_cosine_similarity(qv, cv), 6) AS cosine_sim
          FROM q, c WHERE query_id <> neighbor_id),
    r AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM s)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM r WHERE rn <= 5
    """,
)
def q_chunk_embedding_topk(spark, sf_dir):
    """The full RAG-ingest pipeline in one oracle-checked query (round
    6): documents → 64/16 context-window chunks → feature-hashed TF
    embeddings per chunk → exact cosine top-5 chunk retrieval (queries
    = the first three docs' chunks). Composes ``text.chunk_documents`` +
    ``text.hashed_tf_embedding`` + ``similarity.brute_force_topk``;
    the DuckDB twin re-derives the chunks AND their embeddings from
    raw text and ranks them independently — the strongest end-to-end
    check in the retrieval family. All three stages are the tested
    scale shapes (map-only chunking, wordcount-shaped featurizer,
    partition-local top-k)."""
    chunks = T.chunk_documents(
        load_table(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    ).select(
        (F.col("doc_id") * 100 + F.col("chunk_id")).alias("chunk_key"),
        F.col("chunk_text"),
    )
    emb = T.hashed_tf_embedding(chunks, "chunk_key", "chunk_text", dim=64)
    return S.brute_force_topk(
        emb,
        emb.filter(F.col("chunk_key") < 300),
        id_col="chunk_key",
        vec_col="embedding",
        k=5,
    )


def _ivf_ctes() -> str:
    """Shared WITH-body of the IVF twin (fit replay + assignment +
    probes + rerank up to the ranked ``t`` relation) — reused by
    ``embedding_ann_ivf``/``ivf_index_query`` and the recall-evaluation
    twin. The seeded k-means fit is deterministic given (seed, sample),
    so this builder RUNS the same fit — ``similarity._kmeans_fit`` on
    the same id-ordered sample read straight from the fixture parquet —
    and inlines the resulting centroids (and their squared norms, the
    exact float64 values the Spark assignment uses) as SQL literals,
    the same deterministic-constants pattern as the hyperplane twins.
    Everything downstream (argmin cell assignment with ties to the
    lowest cell, n_probe nearest cells per query, cosine rerank) is
    plain SQL.

    Built LAZILY (the registry stores the wrapping functions): the fit
    needs the fixture, so the SQL is produced when ``oracle_sql()`` is
    called, against ``$BEARLY_ORACLE_SF_DIR`` (default the driver's
    sf0.01 — ``tools/check_oracle.py`` sets it to whatever dir it
    checks)."""
    import os

    import duckdb
    import numpy as np

    from bearly_spark.operators.similarity import _kmeans_fit

    n_cells, n_probe = 64, 16
    sf_dir = os.environ.get("BEARLY_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet(?) ORDER BY vec_id",
        [f"{sf_dir}/embeddings.parquet"],
    ).fetchall()
    con.close()
    mat = np.asarray([r[0] for r in rows[:100_000]], dtype=np.float64)
    C = _kmeans_fit(mat, n_cells, seed=42)
    c2 = (C**2).sum(axis=1)
    cent_vals = ", ".join(
        "({}, [{}]::DOUBLE[], {!r})".format(
            j, ", ".join(repr(float(x)) for x in C[j]), float(c2[j])
        )
        for j in range(n_cells)
    )
    return f"""cent(cell, cv, c2) AS (VALUES {cent_vals}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    ad AS (SELECT v.vec_id, cent.cell,
                  cent.c2 - 2.0 * list_dot_product(v.ev, cent.cv) AS d
           FROM v, cent),
    assign AS (SELECT vec_id, cell FROM (
                 SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                 FROM ad) WHERE rn = 1),
    q AS (SELECT vec_id, ev FROM v WHERE vec_id < 5),
    qd AS (SELECT q.vec_id, cent.cell,
                  cent.c2 - 2.0 * list_dot_product(q.ev, cent.cv) AS d
           FROM q, cent),
    probes AS (SELECT vec_id AS q_id, cell FROM (
                 SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                 FROM qd) WHERE rn <= {n_probe}),
    cand AS (SELECT p.q_id AS query_id, a.vec_id AS neighbor_id
             FROM probes p JOIN assign a ON a.cell = p.cell
             WHERE p.q_id <> a.vec_id),
    r AS (SELECT c.query_id, c.neighbor_id,
                 ROUND(list_cosine_similarity(qv.ev, nv.ev), 6) AS cosine_sim
          FROM cand c JOIN v qv ON qv.vec_id = c.query_id
                      JOIN v nv ON nv.vec_id = c.neighbor_id),
    t AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM r)"""


def _ivf_oracle() -> str:
    """Exact DuckDB twin of ``embedding_ann_ivf`` / ``ivf_index_query``
    (round-4 verdict #6): the shared fit-replay pipeline ranked and cut
    at k=10."""
    return f"""
    WITH {_ivf_ctes()}
    SELECT query_id, neighbor_id, cosine_sim, rn FROM t WHERE rn <= 10
    """


def _ann_recall_oracle() -> str:
    """Exact DuckDB twin of ``ann_recall_embeddings``: the IVF pipeline
    (shared fit-replay CTEs) intersected with the exact brute-force
    top-10 — per-query recall@10 stated entirely in SQL."""
    return f"""
    WITH {_ivf_ctes()},
    ex AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                  ROUND(list_cosine_similarity(q.ev, v.ev), 6) AS cs
           FROM q, v WHERE q.vec_id <> v.vec_id),
    exr AS (SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cs DESC, neighbor_id) AS rn
              FROM ex) WHERE rn <= 10),
    hits AS (SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM t JOIN exr USING (query_id, neighbor_id)
             WHERE t.rn <= 10 GROUP BY 1)
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 10.0, 4) AS recall_at_10
    FROM q LEFT JOIN hits h ON h.query_id = q.vec_id
    """


@register("embedding_ann_ivf", oracle=_ivf_oracle)  # lazy: fit runs at oracle_sql() time
def q_embedding_ann_ivf(spark, sf_dir):
    """IVF (k-means cells + multi-probe) ANN — the DEFAULT batch-scale
    ANN path; recall pinned by tests/test_llm_ops.py.
    (n_cells=64, n_probe=16) measured recall@10 = 0.82 at 26% corpus
    scanned on sf0.1 — the best recall-per-scanned-row of the sweep in
    PLANS.md, dominating every LSH operating point on this fixture.
    Centroids fit on an id-ordered bounded sample — the TWINNING order
    (round 5): reproducible outside Spark, so the DuckDB oracle re-runs
    the identical fit and checks the whole assignment+probe+rerank
    pipeline exactly (fixture ids are uncorrelated with content, so the
    hash-order's bias protection isn't needed here; production callers
    keep the default). ``embedding_ann_lsh`` remains the
    streaming-friendly fallback."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        n_cells=64,
        n_probe=16,
        sample_by="id",
    )


@register("ann_recall_embeddings", oracle=_ann_recall_oracle)  # lazy fit
def q_ann_recall(spark, sf_dir):
    """ANN quality evaluation as a first-class query: per-query
    recall@10 of the IVF path (same fit/params as
    ``embedding_ann_ivf``) against the exact brute-force top-10 — the
    measurement that decides whether an (n_cells, n_probe) operating
    point is shippable, expressed as ONE DataFrame so it runs wherever
    the engine runs (the eval harness a 100 TB pipeline reruns after
    every re-fit). Both rankings break ties identically (rounded
    cosine DESC, neighbor_id), so the intersection count is
    deterministic; the twin replays the fit and both rankings entirely
    in SQL. Cost: the exact arm is Θ(queries × corpus) — the same
    bounded-query-set shape as the other brute-force eval queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = S.ivf_ann_topk(
        emb, queries, k=10, n_cells=64, n_probe=16, sample_by="id"
    )
    exact = S.brute_force_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=10
    )
    hits = (
        approx.join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 10.0, 4).alias(
                "recall_at_10"
            ),
        )
    )


def _pq_oracle() -> str:
    """Exact DuckDB twin of ``embedding_ann_pq`` (round 6): the
    per-subspace k-means fit is deterministic given (seed, id-ordered
    sample), so the builder re-runs ``similarity.pq_fit`` on the same
    sample read from the fixture parquet and inlines all m×ksub
    sub-centroids (and their squared norms) as SQL literals. Everything
    downstream is plain SQL: per-subspace argmin code assignment (ties
    to the lowest code — numpy argmin's first-hit rule), the per-query
    ADC term table, ROUND(SUM(term), 6)-ranked candidates (the same
    rounded value Spark ranks on; the 16-term float sum differs across
    engines only at ulp scale, absorbed by the rounding), and the exact
    cosine rerank."""
    import os

    import duckdb
    import numpy as np

    from bearly_spark.operators.similarity import pq_fit

    m, ksub, rerank, k = 16, 16, 100, 10
    sf_dir = os.environ.get("BEARLY_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet(?) ORDER BY vec_id",
        [f"{sf_dir}/embeddings.parquet"],
    ).fetchall()
    con.close()
    mat = np.asarray([r[0] for r in rows[:100_000]], dtype=np.float64)
    cb = pq_fit(mat, m, ksub, seed=42)
    c2 = (cb**2).sum(axis=2)
    dsub = cb.shape[2]
    cb_vals = ", ".join(
        "({}, {}, [{}]::DOUBLE[], {!r})".format(
            j, c, ", ".join(repr(float(x)) for x in cb[j, c]), float(c2[j, c])
        )
        for j in range(m)
        for c in range(ksub)
    )
    sub = f"ev[(cb.j*{dsub}+1):((cb.j+1)*{dsub})]"
    qsub = f"q.ev[(cb.j*{dsub}+1):((cb.j+1)*{dsub})]"
    return f"""
    WITH cb(j, c, cv, c2) AS (VALUES {cb_vals}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    ad AS (SELECT v.vec_id, cb.j, cb.c,
                  cb.c2 - 2.0 * list_dot_product(v.{sub}, cb.cv) AS d
           FROM v, cb),
    assign AS (SELECT vec_id, j, c FROM (
                 SELECT vec_id, j, c,
                        ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
                 FROM ad) WHERE rn = 1),
    q AS (SELECT vec_id, ev FROM v WHERE vec_id < 5),
    qt AS (SELECT q.vec_id AS qid, cb.j, cb.c,
                  cb.c2 - 2.0 * list_dot_product({qsub}, cb.cv)
                        + list_dot_product({qsub}, {qsub}) AS term
           FROM q, cb),
    adc AS (SELECT qt.qid, a.vec_id AS nid, ROUND(SUM(qt.term), 6) AS adc
            FROM assign a JOIN qt ON qt.j = a.j AND qt.c = a.c
            WHERE a.vec_id <> qt.qid
            GROUP BY qt.qid, a.vec_id),
    cand AS (SELECT qid, nid FROM (
               SELECT qid, nid,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
               FROM adc) WHERE rn <= {rerank}),
    r AS (SELECT c.qid AS query_id, c.nid AS neighbor_id,
                 ROUND(list_cosine_similarity(qv.ev, nv.ev), 6) AS cosine_sim
          FROM cand c JOIN v qv ON qv.vec_id = c.qid
                      JOIN v nv ON nv.vec_id = c.nid),
    t AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM r)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM t WHERE rn <= {k}
    """


def _ivfpq_oracle() -> str:
    """Exact DuckDB twin of ``ivfpq_index_query`` (round 6): BOTH frozen
    models — the coarse k-means centroids and the per-subspace PQ
    codebooks — are re-fit on the same id-ordered sample and inlined as
    SQL literals; candidate eligibility is coarse-cell membership in
    the query's n_probe nearest cells (the directory pruning, stated
    relationally), ranking is ROUND(SUM(term), 6) ADC, and the top
    ``rerank`` per query get the exact cosine rerank."""
    import os

    import duckdb
    import numpy as np

    from bearly_spark.operators.similarity import _kmeans_fit, pq_fit

    n_cells, n_probe, m, ksub, rerank, k = 64, 16, 16, 16, 100, 10
    sf_dir = os.environ.get("BEARLY_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet(?) ORDER BY vec_id",
        [f"{sf_dir}/embeddings.parquet"],
    ).fetchall()
    con.close()
    mat = np.asarray([r[0] for r in rows[:100_000]], dtype=np.float64)
    C = _kmeans_fit(mat, n_cells, seed=42)
    cb = pq_fit(mat, m, ksub, seed=42)
    cc2 = (C**2).sum(axis=1)
    cb2 = (cb**2).sum(axis=2)
    dsub = cb.shape[2]
    cent_vals = ", ".join(
        "({}, [{}]::DOUBLE[], {!r})".format(
            j, ", ".join(repr(float(x)) for x in C[j]), float(cc2[j])
        )
        for j in range(n_cells)
    )
    cb_vals = ", ".join(
        "({}, {}, [{}]::DOUBLE[], {!r})".format(
            j, c, ", ".join(repr(float(x)) for x in cb[j, c]), float(cb2[j, c])
        )
        for j in range(m)
        for c in range(ksub)
    )
    sub = f"ev[(cb.j*{dsub}+1):((cb.j+1)*{dsub})]"
    qsub = f"q.ev[(cb.j*{dsub}+1):((cb.j+1)*{dsub})]"
    return f"""
    WITH cent(cell, cv, c2) AS (VALUES {cent_vals}),
    cb(j, c, cv, c2) AS (VALUES {cb_vals}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    cad AS (SELECT v.vec_id, cent.cell,
                   cent.c2 - 2.0 * list_dot_product(v.ev, cent.cv) AS d
            FROM v, cent),
    cassign AS (SELECT vec_id, cell FROM (
                  SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                  FROM cad) WHERE rn = 1),
    pad AS (SELECT v.vec_id, cb.j, cb.c,
                   cb.c2 - 2.0 * list_dot_product(v.{sub}, cb.cv) AS d
            FROM v, cb),
    passign AS (SELECT vec_id, j, c FROM (
                  SELECT vec_id, j, c,
                         ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
                  FROM pad) WHERE rn = 1),
    q AS (SELECT vec_id, ev FROM v WHERE vec_id < 5),
    qd AS (SELECT q.vec_id, cent.cell,
                  cent.c2 - 2.0 * list_dot_product(q.ev, cent.cv) AS d
           FROM q, cent),
    probes AS (SELECT vec_id AS q_id, cell FROM (
                 SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                 FROM qd) WHERE rn <= {n_probe}),
    qt AS (SELECT q.vec_id AS qid, cb.j, cb.c,
                  cb.c2 - 2.0 * list_dot_product({qsub}, cb.cv)
                        + list_dot_product({qsub}, {qsub}) AS term
           FROM q, cb),
    adc AS (SELECT qt.qid, a.vec_id AS nid, ROUND(SUM(qt.term), 6) AS adc
            FROM passign a
            JOIN cassign ca ON ca.vec_id = a.vec_id
            JOIN probes p ON p.cell = ca.cell
            JOIN qt ON qt.j = a.j AND qt.c = a.c AND qt.qid = p.q_id
            WHERE a.vec_id <> qt.qid
            GROUP BY qt.qid, a.vec_id),
    cand AS (SELECT qid, nid FROM (
               SELECT qid, nid,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
               FROM adc) WHERE rn <= {rerank}),
    r AS (SELECT c.qid AS query_id, c.nid AS neighbor_id,
                 ROUND(list_cosine_similarity(qv.ev, nv.ev), 6) AS cosine_sim
          FROM cand c JOIN v qv ON qv.vec_id = c.qid
                      JOIN v nv ON nv.vec_id = c.nid),
    t AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM r)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM t WHERE rn <= {k}
    """


def _ivfpq_residual_oracle() -> str:
    """Exact DuckDB twin of ``ivfpq_residual_query``: like
    ``_ivfpq_oracle`` but the PQ codebooks are fit on the sample's CELL
    RESIDUALS, corpus codes quantize ``ev − centroid(cell(ev))``
    (elementwise ``list_transform`` subtraction — the same float64 ops
    numpy does), and each query's ADC terms are computed per PROBED
    CELL from its residual w.r.t. that cell."""
    import os

    import duckdb
    import numpy as np

    from bearly_spark.operators.similarity import _kmeans_fit, _nearest, pq_fit

    n_cells, n_probe, m, ksub, rerank, k = 64, 16, 16, 16, 100, 10
    sf_dir = os.environ.get("BEARLY_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet(?) ORDER BY vec_id",
        [f"{sf_dir}/embeddings.parquet"],
    ).fetchall()
    con.close()
    mat = np.asarray([r[0] for r in rows[:100_000]], dtype=np.float64)
    C = _kmeans_fit(mat, n_cells, seed=42)
    cb = pq_fit(mat - C[_nearest(C, mat)], m, ksub, seed=42)
    cc2 = (C**2).sum(axis=1)
    cb2 = (cb**2).sum(axis=2)
    dim = mat.shape[1]
    dsub = cb.shape[2]
    cent_vals = ", ".join(
        "({}, [{}]::DOUBLE[], {!r})".format(
            j, ", ".join(repr(float(x)) for x in C[j]), float(cc2[j])
        )
        for j in range(n_cells)
    )
    cb_vals = ", ".join(
        "({}, {}, [{}]::DOUBLE[], {!r})".format(
            j, c, ", ".join(repr(float(x)) for x in cb[j, c]), float(cb2[j, c])
        )
        for j in range(m)
        for c in range(ksub)
    )
    rsub = f"res.rv[(cb.j*{dsub}+1):((cb.j+1)*{dsub})]"
    qrsub = f"qres.rv[(cb.j*{dsub}+1):((cb.j+1)*{dsub})]"
    return f"""
    WITH cent(cell, cv, c2) AS (VALUES {cent_vals}),
    cb(j, c, cv, c2) AS (VALUES {cb_vals}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    cad AS (SELECT v.vec_id, cent.cell,
                   cent.c2 - 2.0 * list_dot_product(v.ev, cent.cv) AS d
            FROM v, cent),
    cassign AS (SELECT vec_id, cell FROM (
                  SELECT vec_id, cell,
                         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                  FROM cad) WHERE rn = 1),
    res AS (SELECT v.vec_id, ca.cell,
                   list_transform(range(1, {dim + 1}), i -> v.ev[i] - cent.cv[i]) AS rv
            FROM v JOIN cassign ca ON ca.vec_id = v.vec_id
                   JOIN cent ON cent.cell = ca.cell),
    pad AS (SELECT res.vec_id, cb.j, cb.c,
                   cb.c2 - 2.0 * list_dot_product({rsub}, cb.cv) AS d
            FROM res, cb),
    passign AS (SELECT vec_id, j, c FROM (
                  SELECT vec_id, j, c,
                         ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
                  FROM pad) WHERE rn = 1),
    q AS (SELECT vec_id, ev FROM v WHERE vec_id < 5),
    qd AS (SELECT q.vec_id, cent.cell,
                  cent.c2 - 2.0 * list_dot_product(q.ev, cent.cv) AS d
           FROM q, cent),
    probes AS (SELECT vec_id AS q_id, cell FROM (
                 SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                 FROM qd) WHERE rn <= {n_probe}),
    qres AS (SELECT q.vec_id AS qid, p.cell,
                    list_transform(range(1, {dim + 1}), i -> q.ev[i] - cent.cv[i]) AS rv
             FROM q JOIN probes p ON p.q_id = q.vec_id
                    JOIN cent ON cent.cell = p.cell),
    qt AS (SELECT qres.qid, qres.cell, cb.j, cb.c,
                  cb.c2 - 2.0 * list_dot_product({qrsub}, cb.cv)
                        + list_dot_product({qrsub}, {qrsub}) AS term
           FROM qres, cb),
    adc AS (SELECT qt.qid, a.vec_id AS nid, ROUND(SUM(qt.term), 6) AS adc
            FROM passign a
            JOIN cassign ca ON ca.vec_id = a.vec_id
            JOIN qt ON qt.cell = ca.cell AND qt.j = a.j AND qt.c = a.c
            WHERE a.vec_id <> qt.qid
            GROUP BY qt.qid, a.vec_id),
    cand AS (SELECT qid, nid FROM (
               SELECT qid, nid,
                      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
               FROM adc) WHERE rn <= {rerank}),
    r AS (SELECT c.qid AS query_id, c.nid AS neighbor_id,
                 ROUND(list_cosine_similarity(qv.ev, nv.ev), 6) AS cosine_sim
          FROM cand c JOIN v qv ON qv.vec_id = c.qid
                      JOIN v nv ON nv.vec_id = c.nid),
    t AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM r)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM t WHERE rn <= {k}
    """


@register("ivfpq_residual_query", oracle=_ivfpq_residual_oracle)  # lazy fits
def q_ivfpq_residual_query(spark, sf_dir):
    """Residual-encoded IVF-PQ (round 6) — the Faiss-default variant:
    PQ quantizes each vector's RESIDUAL against its cell centroid, so
    the same 16-byte code budget quantizes the (smaller, centered)
    within-cell displacement instead of the raw vector. Measured where
    it matters: on a clustered corpus recall@10 rises 0.84 → 1.00 over
    flat encoding at the same operating point (pinned in
    tests/test_streaming.py); on THIS isotropic fixture both encodings
    read 0.74 — centroids sit near the origin, so there is nothing for
    the finer quantization to win, and the entry's value here is
    hash-exact verification of the residual arithmetic end-to-end
    (per-(query, cell) ADC term tables included). Same layout,
    upsert, and pruning story as ``ivfpq_index_query``; ``meta/``
    records the encoding so upserts/queries can't mix variants."""
    from bearly_spark.streaming.ivf_index import build_ivfpq_index, ivfpq_index_query

    emb = load_table(spark, sf_dir, "embeddings")

    def build(d: str) -> None:  # drop the returned fit: marker meta is JSON
        build_ivfpq_index(
            emb, d, n_cells=64, m=16, ksub=16, sample_by="id", encoding="residual"
        )

    index_dir, _ = derived_dir(
        sf_dir, "ivfpq-res-index", [f"{sf_dir}/embeddings.parquet"], build
    )
    return ivfpq_index_query(
        spark, index_dir, emb.filter(F.col("vec_id") < 5), k=10, n_probe=16, rerank=100
    )


@register("ivfpq_index_query", oracle=_ivfpq_oracle)  # lazy: both fits run at oracle time
def q_ivfpq_index_query(spark, sf_dir):
    """ANN from the persisted IVF-PQ index (round 6,
    ``streaming.ivf_index.build_ivfpq_index``/``ivfpq_index_query``) —
    the canonical 100 TB composition: IVF cell directories prune WHICH
    vectors are scanned (partition pruning, ~n_probe/n_cells of the
    index), PQ codes shrink WHAT each scanned vector costs (16 bytes vs
    256 — the cells/ dataset holds codes only), and the exact cosine
    rerank touches raw vectors solely through the id-sorted,
    bloom-filtered vecs/ sidecar via chunked pushed IN filters
    (``dedup_index``'s point-lookup pattern). Frozen-model at-ingest
    upserts + crash-safe compaction are tested in
    tests/test_streaming.py; the index builds once under ``.scratch/``
    and is reused across runs."""
    from bearly_spark.streaming.ivf_index import build_ivfpq_index, ivfpq_index_query

    emb = load_table(spark, sf_dir, "embeddings")

    def build(d: str) -> None:  # drop the returned fit: marker meta is JSON
        build_ivfpq_index(emb, d, n_cells=64, m=16, ksub=16, sample_by="id")

    index_dir, _ = derived_dir(
        sf_dir, "ivfpq-index", [f"{sf_dir}/embeddings.parquet"], build
    )
    return ivfpq_index_query(
        spark, index_dir, emb.filter(F.col("vec_id") < 5), k=10, n_probe=16, rerank=100
    )


@register("embedding_ann_pq", oracle=_pq_oracle)  # lazy: fit runs at oracle_sql() time
def q_embedding_ann_pq(spark, sf_dir):
    """Product-quantization ANN (round 6, ``similarity.pq_ann_topk``) —
    the BYTES lever of the ANN family: dim-64 vectors compress to m=16
    one-byte codes (16x; m=8 gives 32x at lower recall), the candidate
    scan reads codes not vectors, and the exact cosine rerank touches
    only the top-100 ADC candidates. Measured on this fixture
    (isotropic embeddings, the hashing-ANN worst case): recall@10 =
    0.98 at (m=16, ksub=16, rerank=100); the sweep in PLANS.md has the
    m=8 points. Complements IVF/LSH (which prune WHICH vectors are
    scanned — at 100 TB compose them: IVF cells over PQ codes).
    Codebooks fit on the id-ordered sample (twinning order); the DuckDB
    oracle re-runs the identical fit and replays assignment + ADC +
    rerank in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        m=16,
        ksub=16,
        rerank=100,
        sample_by="id",
    )


@register("ivf_index_query", oracle=_ivf_oracle)  # same lazy twin as the inline path
def q_ivf_index_query(spark, sf_dir):
    """ANN top-k from the PERSISTED IVF index (round 5,
    ``streaming.ivf_index``) — k-means cells materialized as partition
    DIRECTORIES, so the probe's ``cell IN (...)`` filter prunes whole
    dirs at planning time (~n_probe/n_cells of the index bytes read at
    any scale; ``PartitionFilters`` plan-asserted in tests). Identical
    semantics to ``embedding_ann_ivf`` at the same operating point —
    the index build runs the same seeded id-ordered fit — so it shares
    that entry's exact DuckDB twin. The entry exercises the real
    build + frozen-centroid layout + partition-pruned query end-to-end
    (index built once under ``.scratch/``, reused across runs)."""
    from bearly_spark.streaming.ivf_index import build_ivf_index, ivf_index_query

    emb = load_table(spark, sf_dir, "embeddings")

    def build(d: str) -> None:  # drop the returned fit: marker meta is JSON
        build_ivf_index(emb, d, n_cells=64, sample_by="id")

    index_dir, _ = derived_dir(
        sf_dir, "ivf-index", [f"{sf_dir}/embeddings.parquet"], build
    )
    return ivf_index_query(
        spark, index_dir, emb.filter(F.col("vec_id") < 5), k=10, n_probe=16
    )


@register(
    "embedding_ann_sq8",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
               FROM embeddings),
    s AS (SELECT vec_id, ev,
                 list_max(list_transform(ev, x -> abs(x))) AS sc
          FROM v),
    c AS (SELECT vec_id, ev, sc,
                 list_transform(ev, x -> floor(x * 127.0 /
                     (CASE WHEN sc = 0 THEN 1.0 ELSE sc END) + 0.5)) AS cd
          FROM s),
    q AS (SELECT * FROM c WHERE vec_id < 5),
    p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                 ROUND(list_dot_product(q.cd, c.cd)
                       * q.sc * c.sc / 16129.0, 6) AS approx
          FROM q, c WHERE q.vec_id <> c.vec_id),
    pr AS (SELECT q_id, c_id FROM (
             SELECT q_id, c_id,
                    ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY approx DESC, c_id) AS arn
             FROM p) WHERE arn <= 100),
    r AS (SELECT pr.q_id AS query_id, pr.c_id AS neighbor_id,
                 ROUND(list_cosine_similarity(qv.ev, nv.ev), 6) AS cosine_sim
          FROM pr JOIN v qv ON qv.vec_id = pr.q_id
                  JOIN v nv ON nv.vec_id = pr.c_id),
    t AS (SELECT query_id, neighbor_id, cosine_sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rn
          FROM r)
    SELECT query_id, neighbor_id, cosine_sim, rn FROM t WHERE rn <= 10
    """,
)
def q_embedding_ann_sq8(spark, sf_dir):
    """SQ8 scalar-quantized ANN (``similarity.sq8_ann_topk``): vectors
    compress to int8-range codes + one per-vector scale (4× bytes vs
    float32, per-dimension fidelity PQ gives up), candidates rank by
    the decompressed integer dot product, the top 100 rerank with
    exact cosine. Completes the compression ladder: SQ8 (4×) / PQ
    (16×) / IVF-PQ (pruned 16×); like LSH and unlike IVF/PQ it needs
    NO fit — codes depend only on the vector itself, so the twin is
    fully static SQL (integer dots are exact in both engines; the
    scalar multiplies follow one pinned IEEE operation order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.sq8_ann_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, rerank=100
    )
