"""Semantic clustering + SemDeDup curation over the embeddings table.

Round-10 family: integer-grid Lloyd k-means (seed init = k lowest ids,
floor-division centroid means), SemDeDup per-cell near-dup flags and
D4-style cluster prototypes — the k-means-blocked curation trio from
Abbas et al. 2023 / Tirumala et al. 2023, re-expressed Spark-first
(broadcast centroids, Arrow assignment kernels, Theta(k*dim) Lloyd
reductions; see operators/clustering.py for the 100 TB shape).

Exactness contract: every number compared here is an INTEGER on the
2^20 quantization grid (or a count), so the DuckDB twins reproduce the
whole pipeline — seeds, two Lloyd steps, final assignment, pairwise
cosine tests — bit-for-bit in SQL. The only float ops are the shared
``floor(float64(v) * 2^20)`` quantization and both engines' identical
IEEE semantics for it.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.cache import derived_dir, memo
from bearly_spark.operators import clustering as C
from bearly_spark.registry._core import register
from bearly_spark.sources.tables import load_table

_K = 8
_ITERS = 2
_DIM = 64

def _fitted_centroids(df, sf_dir: str, tag: str, k: int = _K, iters: int = _ITERS):
    """The Lloyd fit of ``df``, memoized per embeddings fixture. The fit
    is deterministic in (fixture, k, iters) — seeds are the k lowest
    ids, every step is exact integer arithmetic — so the three batch
    queries (profile / semdedup / prototypes) share one fit instead of
    paying 4 corpus passes each. The TAG is the only thing
    distinguishing two different augmentations of the same fixture in
    the key: it must uniquely NAME the fit frame's construction recipe
    (hence "aug-copies-lt20", not "aug") — reusing a tag for a different
    frame silently serves the other frame's centroids."""
    return memo(
        [f"{sf_dir}/embeddings.parquet"],
        ("lloyd-fit", tag, k, iters),
        lambda: C.lloyd_fit(df, k=k, iters=iters),
    )


def _kmeans_ctes(
    k: int = _K,
    iters: int = _ITERS,
    dim: int = _DIM,
    fit_src: str = "embeddings",
    assign_src: str = "embeddings",
    final_assign: bool = True,
) -> str:
    """WITH-clause body deriving ``af(vec_id, cluster, d)`` — the final
    assignment after ``iters`` integer Lloyd steps — entirely in SQL.

    Mirrors operators/clustering.py exactly: c0 = quantized vectors of
    the k lowest vec_ids of ``fit_src``; each step assigns FIT vectors
    under the current centroids (ties -> lowest cluster via MIN over a
    (dist, cluster) struct) and floor-divides per-coordinate sums
    (DuckDB ``//`` truncates toward zero, so the mod-subtract form
    below forces python's floor); empty clusters keep their previous
    centroid. The final ``af`` assigns ``assign_src`` — the two sources
    differ for the persisted-index twin (frozen centroids fit on the
    build frame, applied to every later arrival).
    """

    def dist(src: str) -> str:
        return (
            f"CAST(list_sum(list_transform(list_zip({src}.xq, c.cq),"
            " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
        )

    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {float(C.QUANT_SCALE)}) AS BIGINT))"
    )
    parts = [
        f"""q AS (
  SELECT vec_id, {quant} AS xq FROM {assign_src}
),
qf AS (
  SELECT vec_id, {quant} AS xq FROM {fit_src}
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, xq AS cq
  FROM qf ORDER BY vec_id LIMIT {k}
)"""
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(
            f"""a{it} AS (
  SELECT qf.vec_id,
         (MIN({{'d': {dist('qf')}, 'c': c.cluster}})).c AS cluster
  FROM qf, {prev} c GROUP BY qf.vec_id
),
m{it} AS (
  SELECT a.cluster, i.i AS ord, SUM(qf.xq[i.i]) AS s, COUNT(*) AS n
  FROM a{it} a JOIN qf USING (vec_id), range(1, {dim + 1}) i(i)
  GROUP BY a.cluster, i.i
),
c{it} AS (
  SELECT p.cluster, COALESCE(m.cq, p.cq) AS cq
  FROM {prev} p LEFT JOIN (
    -- FLOOR division (python's //): duckdb's // truncates toward
    -- zero, so subtract the non-negative remainder first — the
    -- quotient is then an exact multiple and trunc == floor
    SELECT cluster,
           list(CAST((s - ((s % n) + n) % n) // n AS BIGINT) ORDER BY ord) AS cq
    FROM m{it} GROUP BY cluster
  ) m USING (cluster)
)"""
        )
    if final_assign:
        parts.append(
            f"""af AS (
  SELECT q.vec_id,
         (MIN({{'d': {dist('q')}, 'c': c.cluster}})).c AS cluster,
         MIN({dist('q')}) AS d
  FROM q, c{iters} c GROUP BY q.vec_id
)"""
        )
    return ",\n".join(parts)


@register(
    "kmeans_clusters_embeddings",
    oracle=f"""
    WITH {_kmeans_ctes()}
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d) AS BIGINT) AS inertia
    FROM af GROUP BY cluster ORDER BY cluster
    """,
)
def q_kmeans_clusters(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return C.kmeans_cluster_profile(
        emb, centroids=_fitted_centroids(emb, sf_dir, "base-raw")
    )


#: The synthetic embeddings are near-orthogonal (max natural cosine
#: ~0.51 at sf0.01), so a REAL SemDeDup threshold would never fire and
#: the drop path would go driver-unexercised. The query therefore
#: plants exact duplicates AT THE QUERY LEVEL — every vec_id < 20 row
#: re-emitted as vec_id + 100000 — identically in both engines: copies
#: land in their twin's cell (identical vector -> identical argmin) and
#: are flagged kept=false by the lower-id original, so the gate checks
#: the whole flag pipeline, not just the all-kept fixpoint.
_SEMDEDUP_AUG = """
    embeddings_aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding
      FROM embeddings WHERE vec_id < 20
    )"""


#: Shared nx + greedy-drop CTEs (tau = 19/20 -> den^2=400, num^2=361):
#: a vector is dropped iff a LOWER-id vector in the SAME cell clears the
#: exact rational cosine test — the batch operator's rule, and (with
#: id-ordered ingestion + witness="all") the persisted index's rule too.
_NX_AND_DROPPED = """
    nx AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(xq, x -> x*x)) AS BIGINT) AS nx2
      FROM q
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN q qa ON qa.vec_id = a.vec_id
      JOIN q qb ON qb.vec_id = b.vec_id
      JOIN nx na ON na.vec_id = a.vec_id
      JOIN nx nb ON nb.vec_id = b.vec_id
      WHERE CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) > 0
        AND 400 * CAST(CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) AS HUGEINT)
              * CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT)
            >= 361 * CAST(na.nx2 AS HUGEINT) * nb.nx2
    )"""


@register(
    "semdedup_embeddings",
    oracle=f"""
    WITH {_SEMDEDUP_AUG},
    {_kmeans_ctes(fit_src="embeddings_aug", assign_src="embeddings_aug")},
    {_NX_AND_DROPPED}
    SELECT af.vec_id, af.cluster,
           (af.vec_id NOT IN (SELECT vec_id FROM dropped)) AS kept,
           FALSE AS cell_truncated
    FROM af
    """,
)
def q_semdedup(spark, sf_dir):
    """SemDeDup at tau = 19/20 inside the 8 k-means cells; kept=false
    marks a vector with a lower-id >=0.95-cosine neighbor in its cell.
    Exact-duplicate rows are planted (see _SEMDEDUP_AUG) so the drop
    path fires at every SF."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + F.lit(100000)
        )
    )
    cents = _fitted_centroids(aug, sf_dir, "aug-copies-lt20")
    return C.semdedup_flags(aug, tau=(19, 20), centroids=cents)


@register(
    "prototypes_embeddings",
    oracle=f"""
    WITH {_kmeans_ctes()},
    r AS (
      SELECT cluster,
             CAST(ROW_NUMBER() OVER (PARTITION BY cluster
                  ORDER BY d, vec_id) AS INTEGER) AS rn,
             vec_id, d AS dist
      FROM af
    )
    SELECT cluster, rn, vec_id, dist FROM r WHERE rn <= 3
    """,
)
def q_prototypes(spark, sf_dir):
    """Top-3 most-prototypical vectors per cluster (D4 prune targets):
    min-(dist,id) extraction rounds, never a per-cluster sort task."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = C.assign_clusters(emb, _fitted_centroids(emb, sf_dir, "base-raw"))
    return C.cluster_prototypes(assigned, top=3)


@register(
    "semantic_split_embeddings",
    oracle=f"""
    WITH {_kmeans_ctes()}
    SELECT vec_id, cluster,
           CASE WHEN CAST(('0x' || substr(sha256(CAST(cluster AS VARCHAR)), 1, 2))
                     AS INTEGER) < 204 THEN 'train' ELSE 'test' END AS split
    FROM af
    """,
)
def q_semantic_split(spark, sf_dir):
    """Semantic leakage-safe split — the embedding-space face of
    ``cluster_aware_split_documents``: a paraphrase of an eval item is
    usually not a lexical near-dup (minhash misses it) but lands in the
    same k-means cell, so splitting whole CELLS by the first sha256
    byte of the cell id keeps each semantic neighborhood on one side
    (5 train / 3 test cells under the k=8 fit). Completes the
    lexical (exact n-gram) / minhash / semantic decontamination triad
    with a split-time control."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = C.assign_clusters(emb, _fitted_centroids(emb, sf_dir, "base-raw"))
    byte0 = F.conv(
        F.substring(F.sha2(F.col("cluster").cast("string"), 256), 1, 2), 16, 10
    ).cast("int")
    return assigned.select(
        "vec_id",
        "cluster",
        F.when(byte0 < 204, "train").otherwise("test").alias("split"),
    )


@register(
    "d4_prune_embeddings",
    oracle=f"""
    WITH {_SEMDEDUP_AUG},
    {_kmeans_ctes(fit_src="embeddings_aug", assign_src="embeddings_aug")},
    {_NX_AND_DROPPED},
    ranked AS (
      SELECT af.vec_id, af.cluster,
             ROW_NUMBER() OVER (PARTITION BY af.cluster
                  ORDER BY af.d, af.vec_id) AS rn
      FROM af
      WHERE af.vec_id NOT IN (SELECT vec_id FROM dropped)
    )
    SELECT af.vec_id, af.cluster,
           CASE WHEN af.vec_id IN (SELECT vec_id FROM dropped)
                  THEN 'dup_dropped'
                WHEN af.vec_id IN (SELECT vec_id FROM ranked WHERE rn <= 2)
                  THEN 'proto_pruned'
                ELSE 'kept' END AS action
    FROM af
    """,
)
def q_d4_prune(spark, sf_dir):
    """The full D4 pipeline (Tirumala et al. 2023): SemDeDup inside
    k-means cells, then prune the m most-PROTOTYPICAL survivors per
    cell (densest-region points contribute least marginal information).
    Three-way verdict per vector: dup_dropped / proto_pruned / kept.
    Spark side composes the shipped operators — flags, then the
    min-extraction prototype rounds restricted to survivors — so the
    composition itself is what the twin certifies. (The composition
    pays the assignment kernel twice — once inside the flags, once for
    the dist frame; at corpus scale share one ``assign_clusters`` pass
    and feed both stages from it.)"""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + F.lit(100000)
        )
    )
    cents = _fitted_centroids(aug, sf_dir, "aug-copies-lt20")
    flags = C.semdedup_flags(aug, tau=(19, 20), centroids=cents)
    assigned = C.assign_clusters(aug, cents)
    kept_assigned = assigned.join(
        flags.filter(F.col("kept")).select("vec_id"), "vec_id"
    )
    protos = C.cluster_prototypes(kept_assigned, top=2).select(
        "vec_id", F.lit(True).alias("is_proto")
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(flags.select("vec_id", "kept"), "vec_id")
        .join(F.broadcast(protos), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(~F.col("kept"), F.lit("dup_dropped"))
            .when(F.col("is_proto"), F.lit("proto_pruned"))
            .otherwise(F.lit("kept"))
            .alias("action"),
        )
    )


@register(
    "cluster_balance_embeddings",
    oracle=f"""
    WITH {_kmeans_ctes()},
    r AS (
      SELECT vec_id, cluster,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 13))
                             ::UBIGINT AS DOUBLE) / 4503599627370496.0,
                        vec_id) AS INTEGER) AS mix_rank
      FROM af)
    SELECT vec_id, cluster, mix_rank FROM r WHERE mix_rank <= 32
    """,
)
def q_cluster_balance(spark, sf_dir):
    """Cluster-balanced subsampling — the semantic-diversity step of
    modern curation (equal representation per embedding-space region,
    de-biasing head clusters): a UNIFORM target mixture over the k=8
    k-means cells through the same ``quality.mixture_resample``
    machinery the language-mixture step uses (32 per cell over a
    256-vector budget, shared 52-bit md5 draw, WindowGroupLimit rank
    stop). Composition: clustering assigns the domain column, the
    existing resampler does the rest."""
    from bearly_spark.operators.quality import mixture_resample

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = C.assign_clusters(emb, _fitted_centroids(emb, sf_dir, "base-raw")).select(
        "vec_id", "cluster"
    )
    return mixture_resample(
        assigned, "vec_id", "cluster", {c: 1 / 8 for c in range(8)}, n_target=256
    )


def _semdedup_documents_oracle() -> str:
    """End-to-end text -> embedding -> semantic-dedup twin: the
    feature-hashed TF embedding CTE chain (similarity_q's exact md5
    twin) wrapped as a derived table, fed through the k-means CTEs and
    the greedy drop rule. Every stage is engine-identical: md5
    bucketing, integer counts, the one sqrt+ROUND(6) normalization both
    engines perform on the same doubles, then the 2^20 integer grid."""
    from bearly_spark.registry.similarity_q import _hashed_embed_oracle

    return f"""
    WITH hemb AS (
      SELECT doc_id AS vec_id, embedding
      FROM ({_hashed_embed_oracle(dim=64, src="documents")}) h
    ),
    {_kmeans_ctes(fit_src="hemb", assign_src="hemb")},
    {_NX_AND_DROPPED}
    SELECT af.vec_id AS doc_id, af.cluster,
           (af.vec_id NOT IN (SELECT vec_id FROM dropped)) AS kept,
           FALSE AS cell_truncated
    FROM af
    """


@register("semdedup_documents_hashed", oracle=_semdedup_documents_oracle)  # lazy
def q_semdedup_documents(spark, sf_dir):
    """Model-free semantic dedup of the DOCUMENTS table — the capstone
    composition: feature-hashed TF embeddings (no external model, pure
    built-ins) -> integer-grid k-means cells -> greedy SemDeDup flags.
    The fixture's natural duplicate mass makes it non-vacuous (29 drops
    at sf0.01). A production pipeline swaps the featurizer for real
    model embeddings; every stage downstream is unchanged."""
    from bearly_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    # pin the featurized frame: the md5 tokenization is the expensive
    # stage and the fit + flag passes would otherwise recompute it 4x
    # (lazy checkpoint — the seed TakeOrdered is the materializing job)
    emb = T.hashed_tf_embedding(docs, "doc_id", "text", dim=64).localCheckpoint(
        eager=False
    )
    cents = C.lloyd_fit(emb, "doc_id", "embedding", k=_K, iters=_ITERS)
    return C.semdedup_flags(
        emb, id_col="doc_id", centroids=cents, tau=(19, 20)
    )


#: Multiprobe plant: HALF-SCALED copies (cosine exactly 1 with their
#: original, but a different L2 position) — the one transformation that
#: creates near-dups which can legitimately land in a DIFFERENT k-means
#: cell, so the probe ranking is load-bearing in the output (at sf0.01
#: one of 40 halved copies is catchable only through its second probe).
#: 0.5x on IEEE doubles is exact in both engines.
_HALF_AUG = """
    embeddings_aug2 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5) AS embedding
      FROM embeddings WHERE vec_id < 40
    )"""


@register(
    "semdedup_multiprobe_embeddings",
    oracle=f"""
    WITH {_HALF_AUG},
    {_kmeans_ctes(fit_src="embeddings_aug2", assign_src="embeddings_aug2")},
    nx AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(xq, x -> x*x)) AS BIGINT) AS nx2
      FROM q
    ),
    pd AS (
      SELECT q.vec_id, c.cluster,
             CAST(list_sum(list_transform(list_zip(q.xq, c.cq),
                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d
      FROM q, c{_ITERS} c
    ),
    pr AS (
      SELECT vec_id, cluster,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
      FROM pd
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM pr pb
      JOIN af b ON b.vec_id = pb.vec_id
      JOIN af a ON a.cluster = pb.cluster AND a.vec_id < b.vec_id
      JOIN q qa ON qa.vec_id = a.vec_id
      JOIN q qb ON qb.vec_id = b.vec_id
      JOIN nx na ON na.vec_id = a.vec_id
      JOIN nx nb ON nb.vec_id = b.vec_id
      WHERE pb.rn <= 2
        AND CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) > 0
        AND 400 * CAST(CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) AS HUGEINT)
              * CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT)
            >= 361 * CAST(na.nx2 AS HUGEINT) * nb.nx2
    )
    SELECT af.vec_id, af.cluster,
           (af.vec_id NOT IN (SELECT vec_id FROM dropped)) AS kept,
           FALSE AS cell_truncated
    FROM af
    """,
)
def q_semdedup_multiprobe(spark, sf_dir):
    """Cross-cell recall repair: SemDeDup at n_probe=2 — each vector is
    tested against the primary members of its TWO nearest cells. The
    half-scaled plants make the probe ranking observable in the output
    (a copy in a foreign cell is only caught through its second probe)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    halved = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(0.5)).alias("embedding"),
    )
    aug = emb.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).unionByName(halved)
    cents = _fitted_centroids(aug, sf_dir, "aug-half-lt40")
    return C.semdedup_flags(aug, tau=(19, 20), centroids=cents, n_probe=2)


def _semdedup_scratch(spark, sf_dir: str) -> str:
    """Build (once per fixture) the shared scratch semantic index:
    frozen centroids fit on the base table, three id-ordered ingests,
    the planted exact copies arriving last. Both index queries read it.
    The frozen geometry is the shared base-table fit (the twins'
    ``fit_src="embeddings"``), so a build after a batch query fits nothing."""
    from bearly_spark.streaming import semdedup_index as SI

    def build(index_dir: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        copies = emb.filter(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + F.lit(100000)
        )
        SI.build_semdedup_index(
            emb, index_dir, centroids=_fitted_centroids(emb, sf_dir, "base-raw")
        )
        SI.upsert_semdedup_batch(emb.filter(F.col("vec_id") < 150), 0, index_dir)
        SI.upsert_semdedup_batch(
            emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)),
            1,
            index_dir,
        )
        SI.upsert_semdedup_batch(
            emb.filter(F.col("vec_id") >= 300).unionByName(copies), 2, index_dir
        )

    return derived_dir(sf_dir, "semdedup-idx", [f"{sf_dir}/embeddings.parquet"], build)[0]


@register(
    "semdedup_index_query",
    oracle=f"""
    WITH {_SEMDEDUP_AUG},
    {_kmeans_ctes(fit_src="embeddings", assign_src="embeddings_aug")},
    {_NX_AND_DROPPED}
    SELECT af.vec_id, af.cluster AS cell,
           (af.vec_id NOT IN (SELECT vec_id FROM dropped)) AS kept,
           FALSE AS cell_truncated,
           CAST(CASE WHEN af.vec_id < 150 THEN 0
                     WHEN af.vec_id < 300 THEN 1
                     ELSE 2 END AS INTEGER) AS batch
    FROM af
    """,
)
def q_semdedup_index(spark, sf_dir):
    """Semantic dedup AT INGEST: frozen centroids fit on the base
    embeddings table, then three id-ordered micro-batches (the planted
    exact copies arrive LAST) flagged against everything indexed before
    them. With witness="all" and id-ordered arrival the verdict log
    equals the batch greedy on the union — which is exactly what the
    twin states in SQL (fit_src=embeddings, assign_src=aug), making the
    whole persisted-index lifecycle driver-certifiable."""
    from bearly_spark.streaming import semdedup_index as SI

    d = _semdedup_scratch(spark, sf_dir)
    return SI.semdedup_index_verdicts(spark, d).select(
        "vec_id", "cell", "kept", "cell_truncated", F.col("batch").cast("int").alias("batch")
    )


@register(
    "semdedup_index_stats_query",
    oracle=f"""
    WITH {_SEMDEDUP_AUG},
    {_kmeans_ctes(fit_src="embeddings", assign_src="embeddings_aug")}
    SELECT CAST(CASE WHEN vec_id < 150 THEN 0
                     WHEN vec_id < 300 THEN 1
                     ELSE 2 END AS INTEGER) AS batch,
           cluster AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d) AS BIGINT) AS sum_dist,
           CAST(SUM(d) // COUNT(*) AS BIGINT) AS mean_dist,
           MAX(d) AS max_dist
    FROM af
    GROUP BY 1, 2
    """,
)
def q_semdedup_index_stats(spark, sf_dir):
    """The index's drift log: per-(batch, cell) exact-integer
    assignment stats under the FROZEN build geometry — counts, summed /
    floored-mean / max distance to centroid. Shares the scratch index
    (and its three id-ordered ingests) with ``semdedup_index_query``;
    the twin restates the stats directly over the union assignment."""
    from bearly_spark.streaming import semdedup_index as SI

    d = _semdedup_scratch(spark, sf_dir)
    # sum_dist emitted as BIGINT (driver hasher diverges on DECIMAL
    # surfaces — r10): exact at fixture scale, same raise-not-NULL
    # guard as kmeans_cluster_profile's inertia (r11 ADVICE: the bare
    # non-ANSI decimal->long cast would go NULL silently past int64)
    return SI.semdedup_index_stats(spark, d).select(
        F.col("batch").cast("int").alias("batch"),
        "cell",
        "n_vecs",
        F.when(
            F.col("sum_dist") <= F.lit(9223372036854775807),
            F.col("sum_dist").cast("long"),
        )
        .otherwise(
            F.raise_error(F.lit("sum_dist exceeds int64: split hi/lo"))
        )
        .alias("sum_dist"),
        "mean_dist",
        "max_dist",
    )


def _hier_ctes(
    k1: int,
    k2: int,
    iters: int,
    dim: int = _DIM,
    fit_src: str = "embeddings",
    assign_src: str = "embeddings",
) -> str:
    """WITH-clause body deriving ``haf(vec_id, coarse, fine, d)`` — the
    TWO-LEVEL assignment after a full hierarchical fit — entirely in
    SQL, mirroring ``clustering.hierarchical_fit`` /
    ``assign_hierarchical`` exactly: the flat coarse fit (reused
    ``_kmeans_ctes`` chain through ``c{iters}``), coarse assignment of
    the fit rows, fine seeds = the k2 lowest ids per coarse cell,
    ``iters`` fine Lloyd steps (floor-division means keyed by
    (coarse, fine), empty clusters keep their previous centroid), then
    the two-stage argmin for the assign rows (ties -> lowest coarse,
    then lowest fine — the kernels' first-minimal argmin)."""

    def d2(xs: str, cs: str) -> str:
        return (
            f"CAST(list_sum(list_transform(list_zip({xs}, {cs}),"
            " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
        )

    parts = [
        _kmeans_ctes(
            k=k1, iters=iters, dim=dim, fit_src=fit_src,
            assign_src=assign_src, final_assign=False,
        ),
        f"""ca AS (
  SELECT qf.vec_id,
         (MIN({{'d': {d2('qf.xq', 'c.cq')}, 'c': c.cluster}})).c AS coarse
  FROM qf, c{iters} c GROUP BY qf.vec_id
),
f0 AS (
  SELECT coarse,
         CAST(ROW_NUMBER() OVER (PARTITION BY coarse ORDER BY ca.vec_id) - 1
              AS INTEGER) AS fine,
         qf.xq AS cq
  FROM ca JOIN qf USING (vec_id)
  QUALIFY fine < {k2}
  UNION ALL
  -- total geometry: a coarse cell with no fit members seeds fine=0
  -- with the coarse centroid itself (the operator's rule)
  SELECT c.cluster AS coarse, CAST(0 AS INTEGER) AS fine, c.cq
  FROM c{iters} c WHERE c.cluster NOT IN (SELECT coarse FROM ca)
)""",
    ]
    for t in range(1, iters + 1):
        prev = f"f{t - 1}"
        parts.append(
            f"""fa{t} AS (
  SELECT ca.vec_id, ca.coarse,
         (MIN({{'d': {d2('qf.xq', 'fc.cq')}, 'f': fc.fine}})).f AS fine
  FROM ca JOIN qf USING (vec_id) JOIN {prev} fc ON fc.coarse = ca.coarse
  GROUP BY ca.vec_id, ca.coarse
),
fm{t} AS (
  SELECT a.coarse, a.fine, i.i AS ord, SUM(qf.xq[i.i]) AS s, COUNT(*) AS n
  FROM fa{t} a JOIN qf USING (vec_id), range(1, {dim + 1}) i(i)
  GROUP BY a.coarse, a.fine, i.i
),
f{t} AS (
  SELECT p.coarse, p.fine, COALESCE(m.cq, p.cq) AS cq
  FROM {prev} p LEFT JOIN (
    -- floor division (python's //): subtract the non-negative
    -- remainder first so trunc == floor (the flat chain's rule)
    SELECT coarse, fine,
           list(CAST((s - ((s % n) + n) % n) // n AS BIGINT) ORDER BY ord) AS cq
    FROM fm{t} GROUP BY coarse, fine
  ) m ON m.coarse = p.coarse AND m.fine = p.fine
)"""
        )
    parts.append(
        f"""hca AS (
  SELECT q.vec_id,
         (MIN({{'d': {d2('q.xq', 'c.cq')}, 'c': c.cluster}})).c AS coarse
  FROM q, c{iters} c GROUP BY q.vec_id
),
haf AS (
  SELECT h.vec_id, h.coarse,
         (MIN({{'d': {d2('q.xq', 'fc.cq')}, 'f': fc.fine}})).f AS fine,
         MIN({d2('q.xq', 'fc.cq')}) AS d
  FROM hca h JOIN q USING (vec_id) JOIN f{iters} fc ON fc.coarse = h.coarse
  GROUP BY h.vec_id, h.coarse
)"""
    )
    return ",\n".join(parts)


_HK1, _HK2 = 4, 4

#: Collect/cache the fine-centroid frame only while it is axis-sized:
#: it holds <= k1*k2 rows of Θ(dim) each, which is 16 here but
#: Θ(k1·k2·dim) in general — past this bound the registry cache must
#: NOT concentrate it on the driver (the operator API already keeps it
#: distributed; round-12 guard, r11 verdict #6).
_HIER_CACHE_MAX_CELLS = 4096


def _fitted_hier(df, sf_dir: str, tag: str, k1: int = _HK1, k2: int = _HK2,
                 iters: int = _ITERS, fanout: int = 4):
    """Shared two-level fit per (fixture, tag) — the hierarchical mirror
    of ``_fitted_centroids``: three registry queries fit the same
    geometry, so the fit runs once per fixture instead of per query.
    The fine frame is memoized as COLLECTED rows (<= k1*k2, tiny) and
    re-created as a DataFrame per call — holding the DataFrame itself
    would pin checkpointed RDDs to one SparkSession."""
    if k1 * k2 > _HIER_CACHE_MAX_CELLS:
        # too many centroids to hold driver-side: hand back the
        # DISTRIBUTED fine frame uncached (small-k fits only below)
        return C.hierarchical_fit(df, k1=k1, k2=k2, iters=iters,
                                  fanout=fanout)

    def fit():
        coarse, fine = C.hierarchical_fit(df, k1=k1, k2=k2, iters=iters,
                                          fanout=fanout)
        return coarse, [(r.coarse, r.fine, list(r.cq)) for r in fine.collect()]

    coarse, fine_rows = memo(
        [f"{sf_dir}/embeddings.parquet"],
        ("hier-fit", tag, k1, k2, iters, fanout),
        fit,
    )
    fine_df = df.sparkSession.createDataFrame(
        fine_rows, "coarse int, fine int, cq array<long>"
    )
    return coarse, fine_df


@register(
    "hier_kmeans_embeddings",
    oracle=f"""
    WITH {_hier_ctes(_HK1, _HK2, _ITERS)},
    stride AS (SELECT MAX(fine) + 1 AS w FROM f{_ITERS})
    SELECT CAST(coarse * stride.w + fine AS INTEGER) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d) AS BIGINT) AS inertia
    FROM haf, stride GROUP BY 1 ORDER BY 1
    """,
)
def q_hier_kmeans(spark, sf_dir):
    """Two-level (hierarchical) k-means cell profile — the round-11
    answer to the flat fit's 4096-cell auto-k ceiling: k1 coarse cells
    fit flat (driver-held, broadcast, zero corpus shuffle), k2 fine
    centroids per coarse cell fit and held DISTRIBUTED (the centroid
    frame never concentrates on the driver), per-row assignment cost
    Theta((k1+k2)*dim) instead of Theta(k1*k2*dim). The twin replays
    the ENTIRE two-level fit in SQL (seeds, coarse+fine Lloyd steps,
    floor-division means, two-stage argmin) — bit-exact integers end
    to end. k1=1 degenerates to the flat fit (pinned in
    tests/test_clustering.py); fanout-salted cogroups bound per-task
    memory without changing any value (also pinned)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return C.hierarchical_cluster_profile(
        emb, k2=_HK2, fanout=4,
        fitted=_fitted_hier(emb, sf_dir, "hier-base"),
    )


@register(
    "semdedup_hier_embeddings",
    oracle=f"""
    WITH {_SEMDEDUP_AUG},
    {_hier_ctes(_HK1, _HK2, _ITERS, fit_src="embeddings_aug",
                assign_src="embeddings_aug")},
    nxh AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(xq, x -> x*x)) AS BIGINT) AS nx2
      FROM q
    ),
    droppedh AS (
      SELECT DISTINCT b.vec_id
      FROM haf a JOIN haf b
        ON a.coarse = b.coarse AND a.fine = b.fine AND a.vec_id < b.vec_id
      JOIN q qa ON qa.vec_id = a.vec_id
      JOIN q qb ON qb.vec_id = b.vec_id
      JOIN nxh na ON na.vec_id = a.vec_id
      JOIN nxh nb ON nb.vec_id = b.vec_id
      WHERE CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) > 0
        AND 400 * CAST(CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) AS HUGEINT)
              * CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT)
            >= 361 * CAST(na.nx2 AS HUGEINT) * nb.nx2
    )
    SELECT haf.vec_id,
           CAST(coarse * (SELECT MAX(fine) + 1 FROM f{_ITERS}) + fine
                AS INTEGER) AS cell,
           (haf.vec_id NOT IN (SELECT vec_id FROM droppedh)) AS kept,
           FALSE AS cell_truncated
    FROM haf
    """,
)
def q_semdedup_hier(spark, sf_dir):
    """SemDeDup over the TWO-LEVEL cell geometry (round 11) — the
    semantic-dedup continuation past the flat fit's 4096-cell auto-k
    ceiling. Same planted-duplicate augmentation and tau = 19/20 drop
    rule as ``semdedup_embeddings`` (the shared ``_greedy_drop_sorted``
    kernel guarantees the rule cannot diverge between the flat and
    hierarchical pair stages); the twin replays the full two-level fit
    plus the per-(coarse, fine)-cell greedy drop in SQL."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + F.lit(100000)
        )
    )
    return C.semdedup_flags_hier(
        aug, fanout=4, fitted=_fitted_hier(aug, sf_dir, "hier-aug-copies-lt20"),
    ).select("vec_id", "cell", "kept", "cell_truncated")


@register(
    "hier_prototypes_embeddings",
    oracle=f"""
    WITH {_hier_ctes(_HK1, _HK2, _ITERS)},
    stride AS (SELECT MAX(fine) + 1 AS w FROM f{_ITERS}),
    r AS (
      SELECT CAST(coarse * stride.w + fine AS INTEGER) AS cell,
             CAST(ROW_NUMBER() OVER (PARTITION BY coarse, fine
                  ORDER BY d, vec_id) AS INTEGER) AS rn,
             vec_id, d AS dist
      FROM haf, stride
    )
    SELECT cell, rn, vec_id, dist FROM r WHERE rn <= 3
    """,
)
def q_hier_prototypes(spark, sf_dir):
    """D4 prototypes over the TWO-LEVEL geometry — completes the
    profile / semdedup / prototypes trio past the flat auto-k ceiling.
    Same min-(dist, id) extraction rounds as the flat seat (zero
    per-cell sort tasks), keyed by the packed hierarchical cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    coarse, fine = _fitted_hier(emb, sf_dir, "hier-base")
    assigned = C.assign_hierarchical(
        emb, coarse, fine, fanout=4
    ).withColumnRenamed("cell", "cluster")
    return C.cluster_prototypes(assigned, top=3).withColumnRenamed(
        "cluster", "cell"
    )


def _semdedup_hier_scratch(spark, sf_dir: str) -> str:
    """Shared scratch TWO-LEVEL semantic index (round 11): frozen
    coarse+fine geometry fit on the base table, three id-ordered
    ingests, planted exact copies arriving last — the hierarchical
    mirror of ``_semdedup_scratch``."""
    from bearly_spark.streaming import semdedup_index as SI

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )

    def build(index_dir: str) -> None:
        SI.build_hier_semdedup_index(
            emb, index_dir, k1=_HK1, k2=_HK2, iters=_ITERS, fanout=4
        )
        SI.upsert_semdedup_batch(emb.filter(F.col("vec_id") < 150), 0, index_dir)
        SI.upsert_semdedup_batch(
            emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)),
            1,
            index_dir,
        )
        SI.upsert_semdedup_batch(
            emb.filter(F.col("vec_id") >= 300).unionByName(copies), 2, index_dir
        )

    return derived_dir(sf_dir, "semdedup-hier-idx", [f"{sf_dir}/embeddings.parquet"], build)[0]


@register(
    "semdedup_hier_index_query",
    oracle=f"""
    WITH {_SEMDEDUP_AUG},
    {_hier_ctes(_HK1, _HK2, _ITERS, fit_src="embeddings",
                assign_src="embeddings_aug")},
    nxh AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(xq, x -> x*x)) AS BIGINT) AS nx2
      FROM q
    ),
    droppedh AS (
      SELECT DISTINCT b.vec_id
      FROM haf a JOIN haf b
        ON a.coarse = b.coarse AND a.fine = b.fine AND a.vec_id < b.vec_id
      JOIN q qa ON qa.vec_id = a.vec_id
      JOIN q qb ON qb.vec_id = b.vec_id
      JOIN nxh na ON na.vec_id = a.vec_id
      JOIN nxh nb ON nb.vec_id = b.vec_id
      WHERE CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) > 0
        AND 400 * CAST(CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT) AS HUGEINT)
              * CAST(list_sum(list_transform(list_zip(qa.xq, qb.xq),
                 p -> p[1]*p[2])) AS BIGINT)
            >= 361 * CAST(na.nx2 AS HUGEINT) * nb.nx2
    )
    SELECT haf.vec_id,
           CAST(coarse * (SELECT MAX(fine) + 1 FROM f{_ITERS}) + fine
                AS INTEGER) AS cell,
           (haf.vec_id NOT IN (SELECT vec_id FROM droppedh)) AS kept,
           FALSE AS cell_truncated,
           CAST(CASE WHEN haf.vec_id < 150 THEN 0
                     WHEN haf.vec_id < 300 THEN 1
                     ELSE 2 END AS INTEGER) AS batch
    FROM haf
    """,
)
def q_semdedup_hier_index(spark, sf_dir):
    """Semantic dedup AT INGEST over the TWO-LEVEL frozen geometry
    (round 11): hierarchical mirror of ``semdedup_index_query`` — the
    coarse centroids broadcast, the fine frame read distributed, three
    id-ordered micro-batches flagged against everything indexed before
    them. With witness="all" and id-ordered arrival the verdict log
    equals the batch hierarchical greedy on the union, which the twin
    states in SQL (fit_src=embeddings, assign_src=aug)."""
    from bearly_spark.streaming import semdedup_index as SI

    d = _semdedup_hier_scratch(spark, sf_dir)
    return SI.semdedup_index_verdicts(spark, d).select(
        "vec_id", "cell", "kept", "cell_truncated",
        F.col("batch").cast("int").alias("batch"),
    )


# ===================================================================
# PCA (round 12): top principal direction by exact-integer gram +
# power iteration — the decorrelation prep step before IVF/PQ/SemDeDup
# on real embedding corpora. Every compared quantity is an exact
# integer or an exact rational (no IEEE arithmetic anywhere), so the
# twin replays the whole fit bit-for-bit: same quantization, same
# HUGEINT gram, same max-abs renormalization via the shared half-up
# integral division (rounding.rational_micro / _rational_micro_py).
# ===================================================================

_PCA_ITERS = 6


def _pca_ctes(iters: int = _PCA_ITERS, dim: int = _DIM) -> str:
    """WITH-clause body deriving g (the exact gram) and v{iters} (the
    final integer power iterate) — ``clustering.pca_power_fit`` in SQL."""
    from bearly_spark.operators.rounding import rational_micro_sql

    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {float(C.QUANT_SCALE)}) AS BIGINT))"
    )
    parts = [
        f"q AS (SELECT vec_id, {quant} AS xq FROM embeddings)",
        f"""g AS (
  SELECT i.r AS i, j.r AS j,
         CAST(SUM(CAST(xq[i.r + 1] AS HUGEINT) * xq[j.r + 1]) AS HUGEINT) AS g
  FROM q, range({dim}) i(r), range({dim}) j(r) GROUP BY 1, 2
)""",
        f"v0 AS (SELECT r AS i, CAST(1000000 AS HUGEINT) AS val"
        f" FROM range({dim}) t(r))",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""gv{t} AS (SELECT g.i AS i, SUM(g.g * v.val) AS gv
        FROM g JOIN v{t - 1} v ON g.j = v.i GROUP BY 1),
m{t} AS (SELECT MAX(ABS(gv)) AS m FROM gv{t}),
v{t} AS (SELECT i, {rational_micro_sql('gv', 'm', C.PCA_ITERATE_SCALE)} AS val
         FROM gv{t}, m{t})"""
        )
    return ",\n".join(parts)


def _fitted_pca(spark, sf_dir: str) -> dict:
    """Fitted direction per embeddings fixture — the power/project
    queries share one gram pass; the fit is axis-sized (dim ints + two
    exact rationals)."""
    return memo(
        [f"{sf_dir}/embeddings.parquet"],
        ("pca-power", _PCA_ITERS),
        lambda: C.pca_power_fit(
            load_table(spark, sf_dir, "embeddings"), iters=_PCA_ITERS
        ),
    )


def _pca_power_oracle() -> str:
    from bearly_spark.operators.rounding import rational_round_sql

    return f"""
    WITH {_pca_ctes()},
    tr AS (SELECT SUM(g) AS tr FROM g WHERE i = j),
    vv AS (SELECT SUM(val * val) AS vv FROM v{_PCA_ITERS}),
    vgv AS (SELECT SUM(vi.val * g.g * vj.val) AS vgv
            FROM g JOIN v{_PCA_ITERS} vi ON g.i = vi.i
                   JOIN v{_PCA_ITERS} vj ON g.j = vj.i)
    SELECT CAST(v.i AS INTEGER) AS component,
           CAST(v.val AS BIGINT) AS loading,
           {rational_round_sql('vgv.vgv', 'vv.vv * tr.tr', 6)} AS ev_share
    FROM v{_PCA_ITERS} v, vgv, vv, tr
    ORDER BY component
    """


@register("pca_power_embeddings", oracle=_pca_power_oracle())
def q_pca_power(spark, sf_dir):
    """Top principal direction of the embedding corpus
    (``clustering.pca_power_fit``): {iters} exact-integer power-
    iteration steps over the distributed gram (one mergeable
    Theta(dim^2) aggregate pass — the corpus never shuffles), max-abs
    renormalization by the shared half-up integral division, loadings
    scaled 10^6. ``ev_share`` is the exact rational
    v'Gv / (v'v * trace G) — the explained-variance share the
    direction captures (the go/no-go diagnostic for whitening before
    IVF/PQ). Fit served from the fixture-keyed cache shared with
    ``pca_project_embeddings``."""
    from bearly_spark.operators.clustering import _rational_micro_py
    from bearly_spark.registry._shared import _values_frame
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    fit = _fitted_pca(spark, sf_dir)
    ev = (
        _rational_micro_py(fit["ev_share_num"], fit["ev_share_den"], 6)
        / 1_000_000.0
    )
    rows = [(i, int(v), ev) for i, v in enumerate(fit["loadings"])]
    schema = StructType([
        StructField("component", IntegerType()),
        StructField("loading", LongType()),
        StructField("ev_share", DoubleType()),
    ])
    return _values_frame(spark, rows, schema)


@register(
    "pca_project_embeddings",
    oracle=f"""
    WITH {_pca_ctes()}
    SELECT q.vec_id,
           CAST(SUM(CAST(q.xq[v.i + 1] AS HUGEINT) * v.val) AS BIGINT) AS proj
    FROM q, v{_PCA_ITERS} v
    GROUP BY q.vec_id
    """,
)
def q_pca_project(spark, sf_dir):
    """Exact integer projection of every embedding onto the fitted top
    direction (``clustering.pca_project``): map-only — the dim loadings
    ride the plan as an array literal, no shuffle, no per-row driver
    work. The 1-D projection is the sort key for projection-bucketed
    near-dup blocking and the input to scalar quantile splits."""
    fit = _fitted_pca(spark, sf_dir)
    return C.pca_project(
        load_table(spark, sf_dir, "embeddings"), fit["loadings"]
    )
