"""Training-data curation: splits, sampling, per-domain caps, negative sampling, PII redaction, the decontamination triad, sequence packing, corpus cleaning."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import dedup as D
from bearly_spark.operators import text as T
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register
from bearly_spark.registry._shared import (
    _BM25_QUERIES,
    _FPRINT_SQL,
    _QUALITY_SQL,
    _TOKS,
    _bm25_multi_oracle,
    _minhash_clusters_cached,
    _minhash_graph_ctes,
)



def _bm25_decontam_oracle(
    qs: list[tuple[int, str]], k: int = 20, min_score: float = 1.0
) -> str:
    """Twin of ``decontaminate_bm25_documents``: the multi-query twin's
    ranking CTEs, then the per-document flag rollup."""
    inner = _bm25_multi_oracle(qs, k=k)
    # reuse the ranked CTE chain; replace the final projection with the
    # per-doc rollup (the inner twin ends with its SELECT over t)
    base = inner.rsplit("SELECT query_id, doc_id, score, rank FROM r WHERE rank <= ", 1)[0]
    return f"""{base}
    SELECT doc_id,
           ROUND(MAX(score), 4) AS max_score,
           CAST(COUNT(*) AS INTEGER) AS n_queries_hit
    FROM r WHERE rank <= {k} AND score >= {min_score!r}
    GROUP BY doc_id
    """


@register("decontaminate_bm25_documents", oracle=_bm25_decontam_oracle(_BM25_QUERIES))
def q_decontaminate_bm25(spark, sf_dir):
    """Decontamination via lexical retrieval, end to end (round 5): run
    the whole eval-query suite through ``bm25_topk_multi`` in one corpus
    pass, then flag every document that scores ≥ a floor against ANY
    eval query — (doc_id, max_score, n_queries_hit), the removal list a
    training pipeline consumes. Complements ``decontaminate_documents``
    (exact n-gram containment): BM25 catches paraphrased/partial
    overlap that exact n-grams miss, n-grams catch verbatim inclusions
    BM25 underweights. Same one-pass scale shape as the multi-query
    entry; the rollup adds one Θ(hits) aggregate."""
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id int, query string")
    hits = T.bm25_topk_multi(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", queries, k=20
    )
    return (
        hits.filter(F.col("score") >= 1.0)
        .groupBy("doc_id")
        .agg(
            F.round(F.max("score"), 4).alias("max_score"),
            F.count(F.lit(1)).cast("int").alias("n_queries_hit"),
        )
    )


def _cluster_split_oracle() -> str:
    """Twin of ``cluster_aware_split_documents``: the minhash-cluster
    walk (same CTEs as ``_minhash_clusters_oracle``), every doc
    coalesced to a singleton cluster (its own id), split assigned by
    the first sha256 byte of the CLUSTER id — so near-dups can never
    straddle train/test."""
    body = _minhash_graph_ctes()
    return f"""
    WITH RECURSIVE {body},
    e AS (SELECT ga AS u, gb AS v FROM reppairs
          UNION SELECT gb AS u, ga AS v FROM reppairs),
    walk(u, label) AS (
        SELECT u, u FROM e
        UNION
        SELECT e.v, w2.label FROM walk w2 JOIN e ON w2.u = e.u),
    comp AS (SELECT u AS gid, MIN(label) AS component FROM walk GROUP BY u),
    solo AS (SELECT s.gid, s.gid AS component FROM g0 s
             WHERE s.gsize >= 2 AND s.text IS NOT NULL
               AND s.gid NOT IN (SELECT gid FROM comp)),
    allc AS (SELECT gid, component FROM comp
             UNION ALL SELECT gid, component FROM solo),
    clusters AS (SELECT m.doc_id, a.component AS cluster
                 FROM m JOIN allc a ON a.gid = m.gid),
    labeled AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
                FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
    SELECT doc_id, cluster,
           CASE WHEN CAST(('0x' || substr(sha256(CAST(cluster AS VARCHAR)), 1, 2))
                     AS INTEGER) < 204 THEN 'train' ELSE 'test' END AS split
    FROM labeled
    """


@register("cluster_aware_split_documents", oracle=_cluster_split_oracle())
def q_cluster_aware_split(spark, sf_dir):
    """Leakage-safe train/test split: hash-split by near-dup CLUSTER,
    not by document — a plain per-doc hash split (`dataset_split_
    documents`) puts one copy of a near-duplicate pair in train and
    the other in test, leaking training text into eval. Here every doc
    gets its minhash cluster label (singleton = own id), and the
    ~80/20 split keys on the first sha256 byte of the CLUSTER id, so a
    whole near-dup family lands on one side. Composition of
    ``dedup.minhash_dup_clusters`` + the hash-split rule — no new
    shuffle beyond the cluster stage itself."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = _minhash_clusters_cached(spark, sf_dir)
    labeled = docs.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster")
    )
    byte0 = F.conv(
        F.substring(F.sha2(F.col("cluster").cast("string"), 256), 1, 2), 16, 10
    ).cast("int")
    return labeled.select(
        "doc_id",
        "cluster",
        F.when(byte0 < 204, "train").otherwise("test").alias("split"),
    )


@register(
    "decontaminate_embedding",
    oracle="""
    WITH ev AS (SELECT vec_id AS eid, CAST(embedding AS DOUBLE[]) AS evv
                FROM embeddings WHERE vec_id % 17 = 0),
    tr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tv
           FROM embeddings WHERE vec_id % 17 <> 0),
    s AS (SELECT vec_id, eid,
                 ROUND(list_cosine_similarity(tv, evv), 6) AS cs
          FROM tr, ev),
    m AS (SELECT vec_id, MAX(cs) AS mx FROM s GROUP BY vec_id)
    SELECT s.vec_id AS id, s.cs AS max_cos, MIN(s.eid) AS eval_id,
           CASE WHEN s.cs >= 0.4 THEN TRUE ELSE FALSE END AS contaminated
    FROM s JOIN m ON s.vec_id = m.vec_id AND s.cs = m.mx
    GROUP BY s.vec_id, s.cs
    """,
)
def q_decontaminate_embedding(spark, sf_dir):
    """Embedding-based (semantic) decontamination
    (``similarity.max_cosine_vs_set``): every train vector scored by
    its max cosine against the eval split (vec_id % 17 == 0, 30 rows —
    the benchmark suite stand-in), flagged at the repo's demo
    threshold 0.4 (the synthetic embeddings' max cross-pair cosine is
    ~0.5; production uses 0.95+). Completes the decontamination triad:
    exact n-gram (`decontaminate_documents`), lexical BM25
    (`decontaminate_bm25_documents`), and this — the one that catches
    paraphrased leakage. Map-only: eval matrix in the kernel closure,
    one BLAS matmul per batch, zero shuffles."""
    from bearly_spark.operators.similarity import max_cosine_vs_set

    emb = load_table(spark, sf_dir, "embeddings")
    return max_cosine_vs_set(
        emb.filter(F.col("vec_id") % 17 != 0),
        emb.filter(F.col("vec_id") % 17 == 0),
        threshold=0.4,
    )


# ===================================================================
# Training-data pipeline end-to-end shapes: deterministic splits,
# stratified sampling, quality-gated corpus cleaning.
# ===================================================================


@register(
    "dataset_split_documents",
    oracle="""
    WITH s AS (
      SELECT *, CASE
        WHEN CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 204
          THEN 'train'
        WHEN CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 230
          THEN 'val'
        ELSE 'test' END AS split
      FROM documents)
    SELECT split, COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM s GROUP BY split
    """,
)
def q_dataset_split(spark, sf_dir):
    """Deterministic ~80/10/10 train/val/test split keyed on a content
    hash of the document id (first sha256 byte: <204 train, <230 val,
    else test). Hash-keyed splits are the only splits that survive at
    100 TB: stable under re-partitioning, re-runs, engine changes, and
    incremental arrivals — no rand() seed to desynchronize, and a doc
    never migrates between splits."""
    docs = load_table(spark, sf_dir, "documents")
    byte0 = F.conv(
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2), 16, 10
    ).cast("int")
    split = (
        F.when(byte0 < 204, "train").when(byte0 < 230, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@register(
    "stratified_sample_documents",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY sha256(CAST(doc_id AS VARCHAR)) ASC,
                                         doc_id ASC) AS rn
      FROM documents)
    SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Stratified sampling: exactly k docs per language stratum, chosen by
    hash order (deterministic, unbiased w.r.t. insertion order — the way
    to build balanced eval sets from a skewed corpus). One shuffle on the
    stratum key; WindowGroupLimit keeps per-group state at O(k)."""
    from pyspark.sql import Window as SW

    docs = load_table(spark, sf_dir, "documents")
    w = SW.partitionBy("lang").orderBy(
        F.asc(F.sha2(F.col("doc_id").cast("string"), 256)), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
             {_QUALITY_SQL} AS quality,
             {_FPRINT_SQL} AS fingerprint
      FROM documents),
    gated AS (
      SELECT * FROM scored WHERE quality >= 0.4 AND n_tokens >= 20),
    kept AS (
      SELECT g.* FROM gated g
      JOIN (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY fingerprint) k
        USING (doc_id))
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(quality), 6) AS avg_quality,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM kept GROUP BY lang
    """,
)
def q_pipeline_clean(spark, sf_dir):
    """End-to-end corpus cleaning, the composition a real training-data
    pipeline runs as one job: score (token count, quality) -> gate
    (quality/length thresholds — map-side, no shuffle) -> canonical
    bag-of-words dedup (keeps min doc_id per sorted-distinct-token
    fingerprint; catches word-order shuffles exact dedup misses) ->
    per-language corpus stats. Every stage is JVM expressions + two
    key-local shuffles (fingerprint groupBy, lang groupBy)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = T.with_text_stats(docs).select(
        "doc_id", "lang", "n_chars", "n_tokens", "quality", "fingerprint"
    )
    gated = scored.filter((F.col("quality") >= 0.4) & (F.col("n_tokens") >= 20))
    reps = gated.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    kept = gated.join(reps, ["fingerprint", "doc_id"])
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )




@register(
    "pii_redact_documents",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or 10.0.'
                    || (doc_id % 256) || '.7' AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
              AS BIGINT) AS n_pii,
           md5(regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                '<EMAIL>', 'g'),
                 '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'))
             AS redacted_md5
    FROM aug
    """,
)
def q_pii_redact(spark, sf_dir):
    """PII scrubbing (the standard pretraining-corpus pass): count and
    redact email addresses and IPv4 literals via regexp_extract_all +
    global regexp_replace — pure JVM built-ins, map-only, no shuffle.
    The fixture text contains no PII, so a deterministic synthetic
    email+IP is appended per doc IN BOTH ENGINES before redaction — the
    redaction path is genuinely exercised (n_pii >= 2 per doc) and the
    md5 of the redacted text is value-checked."""
    email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    ipv4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, email, "<EMAIL>"), ipv4, "<IP>"
    )
    n_pii = (
        F.size(F.regexp_extract_all(aug, F.lit(email), 0))
        + F.size(F.regexp_extract_all(aug, F.lit(ipv4), 0))
    ).cast("long")
    return docs.select(
        "doc_id", n_pii.alias("n_pii"), F.md5(redacted).alias("redacted_md5")
    )


@register(
    "decontaminate_documents",
    oracle="""
    WITH t AS (SELECT doc_id,
                      [lower(x) for x in string_split_regex(text, '\\s+')
                       if x <> ''] AS toks
               FROM documents),
    ok AS (SELECT * FROM t WHERE len(toks) >= 4),
    tg AS (SELECT doc_id,
                  unnest(list_distinct([array_to_string(toks[i:i+3], ' ')
                                        for i in range(1, len(toks) - 2)])) AS gram
           FROM ok WHERE doc_id < 480),
    bg AS (SELECT doc_id AS bench_id,
                  unnest(list_distinct([array_to_string(toks[i:i+3], ' ')
                                        for i in range(1, len(toks) - 2)])) AS gram
           FROM ok WHERE doc_id >= 480)
    SELECT tg.doc_id, COUNT(DISTINCT bench_id) AS n_contaminating
    FROM tg JOIN bg ON tg.gram = bg.gram
    GROUP BY tg.doc_id
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with a held-out benchmark set (doc_id >= 480 stands in for the
    eval suite; n=4 here — production uses 8-13-grams, but the synthetic
    shared-vocab corpus needs 4 to exercise the path). The benchmark
    side's gram set BROADCASTS (benchmarks are KBs even when the corpus
    is 100 TB), so the containment join is map-side — the train corpus
    never shuffles. Returns each contaminated doc with how many
    benchmark docs it hits."""
    docs = load_table(spark, sf_dir, "documents")
    ok = docs.filter(F.size(T.word_tokens(F.col("text"))) >= 4)
    grams = lambda df, idc: df.select(
        F.col("doc_id").alias(idc),
        F.explode(D.word_shingles(F.col("text"), 4)).alias("gram"),
    )
    tg = grams(ok.filter(F.col("doc_id") < 480), "doc_id")
    bg = grams(ok.filter(F.col("doc_id") >= 480), "bench_id")
    return (
        tg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("bench_id").alias("n_contaminating"))
    )


@register(
    "pack_sequences_documents",
    oracle="""
    WITH t AS (SELECT doc_id, lang,
                      len([x for x in string_split_regex(text, '\\s+')
                           if x <> '']) AS n_toks
               FROM documents),
    c AS (SELECT lang, doc_id, n_toks,
                 COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS prior
          FROM t)
    SELECT lang, CAST(FLOOR(prior / 2048) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS tokens_total
    FROM c GROUP BY lang, pack_id
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing for training (fill 2048-token context windows
    with consecutive docs): cumulative-token-count bucketing — the
    deterministic, shuffle-free approximation of greedy bin packing
    (exact greedy is inherently sequential). Partitioned by lang: each
    stream packs independently, so the window sort is per-partition and
    the plan scales with partition count, the same shape a real pipeline
    uses with (source, shard) partitions. Integer token counts make the
    bucketing exact in both engines."""
    from pyspark.sql import Window as SW

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(T.word_tokens(F.col("text"))).alias("n_toks")
    )
    w = SW.partitionBy("lang").orderBy("doc_id").rowsBetween(SW.unboundedPreceding, -1)
    c = t.withColumn("prior", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
    return (
        c.groupBy("lang", F.floor(F.col("prior") / 2048).cast("long").alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("tokens_total"),
        )
    )


@register(
    "weighted_sample_documents",
    oracle=f"""
    WITH q AS (SELECT doc_id, lang, source, {_QUALITY_SQL} AS quality
               FROM documents)
    SELECT doc_id, lang, source, quality,
           LEAST(CAST(1.0 AS DOUBLE), CAST(0.5 AS DOUBLE) * quality) AS p_keep
    FROM q
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT
               AS DOUBLE) / 4503599627370496.0
          < LEAST(1.0, 0.5 * quality)
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Quality-weighted deterministic sampling
    (``quality.weighted_sample``): each document kept iff its 52-bit
    md5 coin < ``0.5 · quality`` — the reproducible dataset-mixing draw
    (same rows every run/engine/partitioning, unlike rand()). Weight is
    the 6dp composite quality score, so both engines multiply identical
    doubles. Map-only predicate, no shuffle."""
    from bearly_spark.operators.quality import weighted_sample

    d = T.with_text_stats(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "quality"
    )
    return weighted_sample(d, "doc_id", "quality", rate=0.5)


@register(
    "cap_per_source_documents",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                             ::UBIGINT AS DOUBLE) / 4503599627370496.0,
                        doc_id) AS rn
      FROM documents)
    WHERE rn <= 10
    """,
)
def q_cap_per_source(spark, sf_dir):
    """Per-domain document cap (``quality.cap_per_key``): at most 10
    docs per ``source``, chosen by the deterministic 52-bit md5 hash
    order — a uniform-without-replacement draw per domain that is
    stable across runs, the standard guard against one crawl domain
    dominating a training mixture. WindowGroupLimit rank-stop plan."""
    from bearly_spark.operators.quality import cap_per_key

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return cap_per_key(d, "source", "doc_id", max_rows=10)


@register(
    "gopher_quality_documents",
    oracle=r"""
    WITH t AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents),
    m AS (
      -- whitespace class written out explicitly: Java \s includes \x0b,
      -- RE2 \s does not — both engines use this exact class (ADVICE r8)
      SELECT doc_id,
             trim(regexp_replace(txt, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS nrm,
             trim(regexp_replace(
                  regexp_replace(txt,
                       '[^ \t\n\x0b\f\r]*[A-Za-z][^ \t\n\x0b\f\r]*', '', 'g'),
                  '[ \t\n\x0b\f\r]+', ' ', 'g')) AS nrm_noalpha,
             length(regexp_replace(txt, '[ \t\n\x0b\f\r]', '', 'g')) AS sum_len,
             length(txt) - length(replace(txt, '#', '')) AS n_hash,
             (length(txt) - length(replace(txt, '...', ''))) / 3 AS n_ell,
             length(txt) - length(replace(txt, chr(10), '')) + 1 AS n_lines,
             len(regexp_extract_all(txt, '(?m)^ *[-*•]')) AS n_bullet,
             len(regexp_extract_all(txt, '(?m)\.\.\. *$')) AS n_ell_lines,
             ' ' || regexp_replace(lower(txt), '[ \t\n\x0b\f\r]+', ' ', 'g')
                 || ' ' AS padded
      FROM t
    ),
    c AS (
      SELECT doc_id,
             CAST(CASE WHEN length(nrm) = 0 THEN 0
                  ELSE length(nrm) - length(replace(nrm, ' ', '')) + 1
                  END AS INTEGER) AS n_words,
             sum_len, n_hash, n_ell, n_lines, n_bullet, n_ell_lines,
             (CASE WHEN length(nrm) = 0 THEN 0
                   ELSE length(nrm) - length(replace(nrm, ' ', '')) + 1 END)
             - (CASE WHEN length(nrm_noalpha) = 0 THEN 0
                     ELSE length(nrm_noalpha)
                          - length(replace(nrm_noalpha, ' ', '')) + 1 END)
               AS n_alpha,
             (CAST(contains(padded, ' the ') AS INTEGER)
              + CAST(contains(padded, ' be ') AS INTEGER)
              + CAST(contains(padded, ' to ') AS INTEGER)
              + CAST(contains(padded, ' of ') AS INTEGER)
              + CAST(contains(padded, ' and ') AS INTEGER)
              + CAST(contains(padded, ' that ') AS INTEGER)
              + CAST(contains(padded, ' have ') AS INTEGER)
              + CAST(contains(padded, ' with ') AS INTEGER))
               AS n_stop
      FROM m
    ),
    r AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0
                  THEN CAST(sum_len AS DOUBLE) / n_words END AS mean_word_len,
             CASE WHEN n_words > 0
                  THEN (n_hash + n_ell) / n_words END AS symbol_ratio,
             CAST(n_bullet AS DOUBLE) / n_lines AS bullet_frac,
             CAST(n_ell_lines AS DOUBLE) / n_lines AS ellipsis_frac,
             CASE WHEN n_words > 0
                  THEN CAST(n_alpha AS DOUBLE) / n_words END AS alpha_frac,
             CAST(n_stop AS INTEGER) AS n_stop_hits
      FROM c
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
           ellipsis_frac, alpha_frac, n_stop_hits,
           COALESCE(n_words BETWEEN 50 AND 100000
                    AND mean_word_len BETWEEN 3.0 AND 10.0
                    AND symbol_ratio <= 0.1
                    AND bullet_frac <= 0.9
                    AND ellipsis_frac <= 0.3
                    AND alpha_frac >= 0.8
                    AND n_stop_hits >= 2, FALSE) AS passes_gopher
    FROM r
    """,
)
def q_gopher_quality(spark, sf_dir):
    """The Gopher quality-rule pack (``quality.gopher_rules``, Rae et
    al. 2021 §A.1.1): per-document word-count / mean-word-length /
    symbol-ratio / bullet-line / ellipsis-line / alpha-word / stop-word
    metrics and the combined ``passes_gopher`` gate — the standard
    web-corpus cleaning filter bundle beside the repo's repetition and
    perplexity scores. All fractions are raw IEEE int/int quotients
    (exact in both engines, no rounding layer needed); map-only, zero
    shuffles — a pure scan at any scale."""
    from bearly_spark.operators.quality import gopher_rules

    return gopher_rules(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "c4_rules_documents",
    oracle=r"""
    WITH raw AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
                 FROM documents),
    t AS (SELECT doc_id,
                 array_to_string(
                     [array_to_string(toks[(i*7+1):(i*7+7)], ' ') || '.'
                      for i in range(0, (len(toks) - 1) // 7 + 1)],
                     chr(10)) AS txt
          FROM raw),
    s AS (SELECT doc_id, txt, string_split(txt, chr(10)) AS lines FROM t),
    k AS (SELECT doc_id, txt, len(lines) AS n_lines,
                 [x for x in lines
                  if regexp_matches(rtrim(x), '[.!?"]$')
                     and len([w for w in string_split_regex(
                                  trim(x), '[ \t\n\x0b\f\r]+')
                              if w <> '']) >= 3
                     and not contains(lower(x), 'javascript')] AS kept
          FROM s),
    c AS (SELECT doc_id,
                 CAST(n_lines AS INTEGER) AS n_lines,
                 CAST(len(kept) AS INTEGER) AS n_kept_lines,
                 COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
                 contains(lower(txt), 'lorem ipsum') AS has_lorem_ipsum,
                 contains(txt, '{') AS has_brace
          FROM k)
    SELECT doc_id, n_lines, n_kept_lines, clean_text,
           CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS INTEGER)
               AS n_sentences,
           has_lorem_ipsum, has_brace,
           (len(regexp_extract_all(clean_text, '[.!?]')) >= 5
            AND NOT has_lorem_ipsum AND NOT has_brace) AS passes_c4
    FROM c
    """,
)
def q_c4_rules(spark, sf_dir):
    """The C4 cleaning rule pack (``quality.c4_rules``, Raffel et al.
    2020 §2.2) — line-level repair + page gates: keep lines ending in
    terminal punctuation with ≥ 3 words and no 'javascript', then gate
    the page on ≥ 5 sentences / no 'lorem ipsum' / no '{'. The
    most-cited baseline web filter, complementing the Gopher pack's
    statistical gates with line REMOVAL (emits ``clean_text``). Every
    output is int/bool/string — the twin is exact with no quantization
    story. Map-only pure scan, zero shuffles at any scale.

    The fixture's token soup has no line/punctuation structure (every
    rule would fire vacuously), so the query first derives a
    deterministic lined variant — 7-token chunks, '.'-terminated,
    newline-joined — IDENTICALLY in both engines; short tail chunks
    then exercise the min-words drop, and the sentence-count page gate
    splits real passes from real failures. The raw rule semantics
    (javascript / lorem ipsum / brace / terminal-punct variants) are
    pinned on crafted text in tests/test_llm_ops.py."""
    from bearly_spark.operators.quality import c4_rules

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n_chunks = F.floor((F.size(toks) - 1) / 7).cast("int")
    lined = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_chunks),
            lambda i: F.concat(
                F.array_join(F.slice(toks, i * 7 + 1, 7), " "), F.lit(".")
            ),
        ),
        "\n",
    )
    return c4_rules(
        docs.select("doc_id", lined.alias("text")), "doc_id", "text"
    )


@register(
    "mixture_resample_documents",
    oracle="""
    SELECT doc_id, lang, mix_rank FROM (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                             ::UBIGINT AS DOUBLE) / 4503599627370496.0,
                        doc_id) AS INTEGER) AS mix_rank
      FROM documents)
    WHERE mix_rank <= CASE lang WHEN 'en' THEN 150 WHEN 'de' THEN 60
                                WHEN 'fr' THEN 60 WHEN 'zh' THEN 30
                                ELSE 0 END
    """,
)
def q_mixture_resample(spark, sf_dir):
    """Target-mixture resampling (``quality.mixture_resample``): the
    DoReMi/Pile-style domain-weighting step — rebalance the corpus to a
    target language mixture (en 50 / de 20 / fr 20 / zh 10 over a
    300-doc budget; es weight 0 drops out) by keeping exactly
    ``round(frac·n_target)`` docs per domain in the shared 52-bit md5
    hash order. Down-sampling only (a short domain contributes all it
    has); ``mix_rank`` makes the per-domain draw auditable. Same
    WindowGroupLimit rank-stop plan as the per-source cap — the literal
    max-quota bound stops each domain's sort at 150 rows regardless of
    domain size."""
    from bearly_spark.operators.quality import mixture_resample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_resample(
        d, "doc_id", "lang",
        {"en": 0.5, "de": 0.2, "fr": 0.2, "zh": 0.1}, n_target=300,
    )


@register(
    "negative_samples_documents",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS nn FROM documents),
    idx AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos
            FROM documents),
    probes AS (
      SELECT d.doc_id AS anchor_id, j AS neg_rank, a.pos AS apos,
             CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                  || CAST(d.doc_id AS VARCHAR)), 1, 13))::UBIGINT
                  % nn AS BIGINT) AS rawpos
      FROM documents d JOIN idx a ON a.doc_id = d.doc_id,
           LATERAL unnest([1, 2, 3]) AS t(j), n)
    SELECT anchor_id, neg_rank, i.doc_id AS negative_id
    FROM (SELECT anchor_id, neg_rank,
                 CASE WHEN rawpos = apos THEN (rawpos + 1) % nn
                      ELSE rawpos END AS pos
          FROM probes, n) p
    JOIN idx i USING (pos)
    """,
)
def q_negative_samples(spark, sf_dir):
    """Deterministic negative sampling (``quality.negative_samples``):
    3 hash-drawn uniform negatives per document — the reproducible
    contrastive-training baseline (same pairs every run/engine/
    partitioning; anchor-collisions bumped one slot). One stable
    0..N−1 indexing + a ×k map-only probe explode + one position
    join."""
    from bearly_spark.operators.quality import negative_samples

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return negative_samples(d, "doc_id", k=3)
