"""LLM-pipeline text analysis: stats, language-ID, TF-IDF, BM25 retrieval, collocations, vocabulary/OOV, quality scoring, chunking."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import rounding as _R
from bearly_spark.operators import text as T
from bearly_spark.sources.tables import load_table

from bearly_spark.cache import derived_dir, memo
from bearly_spark.registry._core import register
from bearly_spark.registry._shared import (
    _BM25_QUERIES,
    _BM25_QUERY,
    _FPRINT_SQL,
    _PUNCT_DEN_SQL,
    _PUNCT_NUM_SQL,
    _QUALITY_SQL,
    _STOP_HITS,
    _TOKS,
    _bm25_multi_oracle,
)

_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN ({_STOP_HITS[lang]}) > 0 AND ({_STOP_HITS[lang]}) >= GREATEST("
        + ", ".join(f"({_STOP_HITS[o]})" for o in T.LANG_PRIORITY if o != lang)
        + f") THEN '{lang}'"
        for lang in T.LANG_PRIORITY
    )
    + " ELSE 'und' END"
)
_PUNCT_SQL = _R.rational_round_sql(_PUNCT_NUM_SQL, _PUNCT_DEN_SQL, 6)


@register(
    "text_stats_documents",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{T.BPE_REGEX}')) AS INTEGER) AS n_bpe_tokens,
           {_PUNCT_SQL} AS punct_ratio,
           {_QUALITY_SQL} AS quality,
           {_LANG_CASE} AS lang_guess,
           {_FPRINT_SQL} AS fingerprint
    FROM documents
    """,
)
def q_text_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return T.with_text_stats(d).select(
        "doc_id", "n_tokens", "n_bpe_tokens", "punct_ratio", "quality", "lang_guess", "fingerprint"
    )


@register(
    "lang_id_distribution",
    oracle=f"""
    SELECT {_LANG_CASE} AS lang_guess, COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q_lang_distribution(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(T.lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _bm25_oracle(query: str, k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """Exact DuckDB twin of ``text.bm25_topk``: identical arithmetic
    shape term by term — k1+1 / 1-b folded in Python and inlined as the
    same repr literals, contributions rounded to 12dp and summed as
    DECIMAL(28,12) (order-independent), score rounded to 4dp, ties by
    doc id."""
    terms = list(dict.fromkeys(t.lower() for t in query.split()))
    in_list = ", ".join(f"'{t}'" for t in terms)
    k1p1, omb = k1 + 1.0, 1.0 - b
    return f"""
    WITH toks AS (
        SELECT doc_id,
               lower(unnest([x for x in string_split_regex(text, '\\s+') if x <> ''])) AS term
        FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                     (SELECT AVG(dl) FROM dl) AS avgdl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ({in_list}) GROUP BY doc_id, term),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    w AS (SELECT tf.doc_id,
                 CAST(ROUND(
                   (ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                    * (tf.tf * {k1p1!r}))
                   / (tf.tf + {k1!r} * ({omb!r} + {b!r} * dl.dl / s.avgdl)), 12)
                 AS DECIMAL(28,12)) AS w
          FROM tf JOIN dft USING (term) JOIN dl ON dl.doc_id = tf.doc_id, stats s),
    sc AS (SELECT doc_id, ROUND(CAST(SUM(w) AS DOUBLE), 4) AS score
           FROM w GROUP BY doc_id),
    r AS (SELECT doc_id, score,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
          FROM sc)
    SELECT doc_id, score, rank FROM r WHERE rank <= {k}
    """


def _bigram_lm_oracle(k: float = 0.5) -> str:
    """Exact DuckDB twin of ``text.bigram_logprob_scores``: bigram /
    context / vocab counts over the same tokenization, identical
    arithmetic shape. Round 8: contributions are INTEGER micro-nats
    (``floor(ln·10⁶ + 0.5)`` as BIGINT — 6dp, where a 1-ulp cross-build
    libm ln difference moves the argument by only ~2·10⁻⁹; the old
    12dp quantization was boundary-adjacent on real fixtures), summed
    exactly, and the 4dp mean is ``rational_round_sql`` integral
    division — no float division or float rounding downstream of the
    one irreducible ln call."""
    return f"""
    WITH t AS (SELECT doc_id,
                      [lower(x) for x in string_split_regex(text, '\\s+') if x <> ''] AS toks
               FROM documents),
    big AS (SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
              SELECT doc_id,
                     unnest([{{'w1': toks[i], 'w2': toks[i+1]}}
                             for i in range(1, len(toks))]) AS p
              FROM t)),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT w) AS v
              FROM (SELECT unnest(toks) AS w FROM t)),
    contrib AS (SELECT big.doc_id,
                       CAST(FLOOR(ln((c2.c2 + {k!r}) / (c1.c1 + {k!r} * vocab.v))
                                  * 1000000.0 + 0.5) AS BIGINT) AS lp_micro
                FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vocab)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           {_R.rational_round_sql('SUM(lp_micro)', '1000000 * COUNT(*)', 4)}
               AS avg_logprob
    FROM contrib GROUP BY doc_id
    """


@register("bigram_quality_documents", oracle=_bigram_lm_oracle())
def q_bigram_quality(spark, sf_dir):
    """Corpus-trained bigram LM quality score (round 4) — the
    perplexity-shaped signal ratio heuristics can't express, with the
    corpus itself as the model. Three wordcount-shaped aggregations +
    a 1-row broadcast vocab scalar; DECIMAL-summed contributions keep
    the mean order-independent for the exact twin."""
    return T.bigram_logprob_scores(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@register("bm25_search_documents", oracle=_bm25_oracle(_BM25_QUERY))
def q_bm25_search(spark, sf_dir):
    """Okapi BM25 keyword retrieval (round 4) — the lexical first-stage
    retriever next to the embedding ANN path (the standard tool for
    decontamination / eval-overlap sweeps where exact keyword evidence
    matters). All JVM built-ins over wordcount-shaped shuffles; the
    top-k is a distributed TakeOrdered, never a single-partition global
    window. Oracle recomputes the full scoring pipeline in DuckDB."""
    return T.bm25_topk(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", _BM25_QUERY, k=10
    )


@register("bm25_index_search_documents", oracle=_bm25_oracle(_BM25_QUERY))
def q_bm25_index_search(spark, sf_dir):
    """BM25 from the PERSISTED inverted index (round 6,
    ``streaming.bm25_index``) — the search-service form: postings
    (term-sorted + term blooms) and docstats maintained incrementally
    at ingest, so a query reads its terms' posting lists via chunked
    pushed IN filters instead of re-tokenizing the corpus — Θ(query
    postings), not Θ(corpus). Scoring is the same expression tree as
    ``text.bm25_topk`` (identical determinism contract), so this entry
    shares that query's exact DuckDB twin and the two paths are
    equivalence-tested row-for-row. Index built once under
    ``.scratch/``, reused across runs."""
    from bearly_spark.streaming.bm25_index import bm25_query_index, upsert_bm25_batch

    docs = load_table(spark, sf_dir, "documents")
    index_dir, _ = derived_dir(
        sf_dir,
        "bm25-index",
        [f"{sf_dir}/documents.parquet"],
        lambda d: upsert_bm25_batch(docs, 0, d),
    )
    return bm25_query_index(spark, index_dir, _BM25_QUERY, k=10)


@register("bm25_multi_search_documents", oracle=_bm25_multi_oracle(_BM25_QUERIES))
def q_bm25_multi_search(spark, sf_dir):
    """Multi-query BM25 (round 5, ``text.bm25_topk_multi``) — the shape
    decontamination actually runs: a whole eval suite of queries scored
    in ONE pass over the corpus token stream. The (query_id, term)
    table broadcasts into the tf stream after the corpus-sized shuffles
    are paid once; per-query top-k is a query-partitioned rank window
    (WindowGroupLimit), never a driver loop over queries. Exact DuckDB
    twin; single-vs-multi equivalence pinned in tests/test_llm_ops.py."""
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id int, query string")
    return T.bm25_topk_multi(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", queries, k=10
    )


@register(
    "vocabulary_documents",
    oracle="""
    WITH tok AS (SELECT unnest([lower(x) for x in
                                string_split_regex(coalesce(text, ''), '\\s+')
                                if x <> '']) AS token
                 FROM documents),
    vc AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1)
    SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank
    FROM vc ORDER BY cnt DESC, token LIMIT 50
    """,
)
def q_vocabulary(spark, sf_dir):
    """Tokenizer-prep vocabulary (``text.build_vocabulary``): top-50
    lowercased whitespace tokens with deterministic ties (count DESC,
    token ASC). Wordcount shuffle + TakeOrdered over distinct tokens —
    the result is broadcast-sized by construction."""
    return T.build_vocabulary(
        load_table(spark, sf_dir, "documents"), "text", top_v=50
    )


@register(
    "vocab_oov_documents",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest([lower(x) for x in
                                        string_split_regex(coalesce(text, ''), '\\s+')
                                        if x <> '']) AS token
                 FROM documents),
    vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1)
              ORDER BY cnt DESC, token LIMIT 20),
    per AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
                   SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM tok t LEFT JOIN vocab v USING (token) GROUP BY 1)
    SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens,
           CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
           ROUND(CAST(n_oov AS DOUBLE) / NULLIF(n_tokens, 0), 6) AS oov_rate
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def q_vocab_oov(spark, sf_dir):
    """Per-document out-of-vocabulary rate (``text.oov_rate``) against
    the top-20 corpus vocabulary — the coverage check before committing
    to a tokenizer vocab. Vocab broadcast; corpus pays one explode +
    broadcast left join + id regroup. Token-less docs report NULL rate
    (no evidence ≠ fully covered)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = T.build_vocabulary(docs, "text", top_v=20)
    return T.oov_rate(docs, vocab, "doc_id", "text")


# ===================================================================
# Relational surface widening: explode/unnest, unpivot, min_by/max_by,
# median + deterministic mode, hash-sampling, EXCEPT ALL, cross join,
# calendar gap-fill. Each demonstrates one operator family the
# reference lacks entirely (SURVEY §2.2) expressed Spark-first.
# ===================================================================


@register(
    "wordcount_tokens",
    oracle=r"""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT UNNEST(regexp_split_to_array(text, '\s+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token ORDER BY cnt DESC, token LIMIT 50
    """,
)
def q_wordcount(spark, sf_dir):
    """explode(split()) wordcount — the canonical lateral-view query.
    Scale note: explode is a map-side generator (no shuffle); the single
    shuffle is the token groupBy, with map-side partial counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(50)
    )


@register(
    "chunk_documents_windows",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             [lower(x) for x in string_split_regex(text, '\s+') if x <> ''] AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (SELECT doc_id, toks,
                 CAST(GREATEST(1, ceil((len(toks) - 16) / 48.0)) AS INT) AS n_chunks
          FROM t WHERE len(toks) > 0),
    c AS (SELECT doc_id, CAST(u.i AS INT) AS chunk_id, n_chunks,
                 toks[(u.i*48 + 1):(u.i*48 + 64)] AS w
          FROM s, UNNEST(range(n_chunks)) AS u(i))
    SELECT doc_id, chunk_id, n_chunks,
           CAST(len(w) AS INT) AS chunk_tokens,
           array_to_string(w, ' ') AS chunk_text
    FROM c
    """,
)
def q_chunk_documents(spark, sf_dir):
    """Context-window chunking (round 6, ``text.chunk_documents``):
    64-token windows with 16-token overlap — the preprocessing dual of
    ``pack_sequences`` (that op concatenates short docs; this splits
    long ones for embedding models / bounded-context training). Pure
    JVM map-only expressions (tokenize once, explode stride starts,
    slice + array_join) — zero shuffles, which is what a 100 TB
    chunking pass must be. Edge rules pinned by the twin: remainder
    windows are short-never-empty, at-or-under-budget docs yield one
    chunk of themselves."""
    return T.chunk_documents(
        load_table(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    )


@register(
    "repetition_quality_documents",
    oracle="""
    WITH t AS (SELECT doc_id,
                      lower(unnest([x for x in string_split_regex(text, '\\s+')
                                    if x <> ''])) AS tok
               FROM documents),
    per AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok),
    d AS (SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_toks,
                 COUNT(*) AS n_distinct
          FROM per GROUP BY doc_id)
    SELECT doc_id, CAST(top_cnt AS BIGINT) AS top_cnt,
           CAST(n_toks AS BIGINT) AS n_toks,
           ROUND(top_cnt / n_toks, 6) AS top_token_share,
           ROUND(1.0 - n_distinct / n_toks, 6) AS repetition_ratio,
           (top_cnt / n_toks <= 0.2 AND 1.0 - n_distinct / n_toks <= 0.5) AS keep
    FROM d
    """,
)
def q_repetition_quality(spark, sf_dir):
    """Gopher-style repetition quality filters (the standard pretraining
    corpus gates next to the length/punct/stopword scores in
    ``text_stats_documents``): per-document top-token share and repeated-
    token ratio, plus the keep/drop gate at the published-style
    thresholds. Two key-local shuffles on doc_id, all-JVM built-ins,
    counts are mergeable partials — scale-safe. At 100 TB the same plan
    applies with documents pre-partitioned by doc_id."""
    from bearly_spark.operators.text import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.transform(word_tokens(F.col("text")), F.lower)).alias("tok")
    )
    per = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    d = per.groupBy("doc_id").agg(
        F.max("c").alias("top_cnt"),
        F.sum("c").alias("n_toks"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    top_share = F.col("top_cnt") / F.col("n_toks")
    rep_ratio = F.lit(1.0) - F.col("n_distinct") / F.col("n_toks")
    return d.select(
        "doc_id",
        F.col("top_cnt").cast("long").alias("top_cnt"),
        F.col("n_toks").cast("long").alias("n_toks"),
        F.round(top_share, 6).alias("top_token_share"),
        F.round(rep_ratio, 6).alias("repetition_ratio"),
        ((top_share <= 0.2) & (rep_ratio <= 0.5)).alias("keep"),
    )


@register(
    "tfidf_keywords_documents",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest([lower(x) for x in
                                        string_split_regex(coalesce(text, ''), '\\s+')
                                        if x <> '']) AS token
                 FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tfc FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tfc) AS dlen FROM tf GROUP BY 1),
    dfc AS (SELECT token, COUNT(*) AS dfc FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM dl),
    s AS (SELECT tf.doc_id, tf.token,
                 ROUND((CAST(tfc AS DOUBLE) / CAST(dlen AS DOUBLE))
                       * (CAST(n_docs AS DOUBLE) / CAST(dfc AS DOUBLE)), 6)
                     AS tfidf
          FROM tf JOIN dl USING (doc_id) JOIN dfc USING (token), n)
    SELECT doc_id, token, tfidf, rank FROM
      (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS rank
       FROM s)
    WHERE rank <= 3
    """,
)
def q_tfidf_keywords(spark, sf_dir):
    """Per-document TF-IDF keyword extraction (``text.tfidf_keywords``):
    top-3 tokens per doc by the ln-free ``(tf/len)·(N/df)`` score — the
    rarity RATIO instead of its log, so every score is exact IEEE
    arithmetic over integer counts and the twin matches bit-for-bit
    (log only reweights monotonically per token; the induced per-doc
    ranking differs solely on ties, which the token tie-break pins).
    Ranking is on the ROUNDED score in both engines."""
    return T.tfidf_keywords(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", top_k=3
    )


@register(
    "collocations_documents",
    oracle="""
    WITH toks AS (SELECT [lower(x) for x in
                          string_split_regex(coalesce(text, ''), '\\s+')
                          if x <> ''] AS ts
                  FROM documents),
    big AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
            FROM toks, LATERAL unnest(generate_series(1, len(ts) - 1)) AS t(i)
            WHERE len(ts) >= 2),
    uni AS (SELECT unnest(ts) AS w FROM toks),
    pc AS (SELECT w1, w2, COUNT(*) AS pair_count FROM big GROUP BY 1, 2),
    uc AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY 1),
    nb AS (SELECT COUNT(*) AS n_bigrams FROM big),
    nu AS (SELECT COUNT(*) AS n_unigrams FROM uni)
    SELECT w1, w2, pair_count,
           ROUND((CAST(pair_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
                 / ((CAST(a.c1 AS DOUBLE) / CAST(n_unigrams AS DOUBLE))
                    * (CAST(b.c1 AS DOUBLE) / CAST(n_unigrams AS DOUBLE))),
                 6) AS lift
    FROM pc JOIN uc a ON pc.w1 = a.w JOIN uc b ON pc.w2 = b.w, nb, nu
    WHERE pair_count >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 50
    """,
)
def q_collocations(spark, sf_dir):
    """Collocation extraction (``text.collocations``): top-50 adjacent
    token pairs by the ln-free PMI lift ``p(w1,w2)/(p(w1)·p(w2))``
    (≥ 5 occurrences) — "how much more than chance do these tokens
    co-occur", the phrase-mining primitive feeding tokenizer merges
    and keyphrase lists. All wordcount-shaped shuffles; totals ride
    1-row broadcasts; ranking on the ROUNDED lift in both engines."""
    return T.collocations(
        load_table(spark, sf_dir, "documents"), "text", min_count=5, top_n=50
    )


# ===================================================================
# BPE merge learning (round 12): distributed tokenizer prep — pair
# counting and merges over the DISTINCT-WORD frame (Theta(vocab) per
# round, corpus scanned once). The twin unrolls the identical rounds
# in SQL: same tokenization, same boundary-delimited symbol strings,
# same (count DESC, pair ASC) argmax, same non-overlapping
# left-to-right replace (java String.replace == DuckDB replace,
# pinned on the '|a|a|a|' chain by tests/test_llm_ops.py).
# ===================================================================

_BPE_MERGES = 8


def _bpe_ctes(n_merges: int) -> str:
    """WITH-clause body deriving s{n} (word, freq, sym after n merges)
    and t1..t{n} (each round's winning pair) — the full
    ``text.bpe_learn`` replay in SQL."""
    parts = [
        """w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT lower(t) AS word
        FROM (SELECT unnest([x for x in
                             string_split_regex(coalesce(text, ''), '\\s+')
                             if x <> '']) AS t
              FROM documents))
  WHERE word NOT LIKE '%|%' GROUP BY 1
),
s0 AS (SELECT word, freq,
              '|' || array_to_string(regexp_extract_all(word, '.'), '|')
                  || '|' AS sym
       FROM w)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS (
  SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq,
               unnest(list_zip(list_slice(sy, 1, len(sy) - 1),
                               list_slice(sy, 2, len(sy)))) AS pr
        FROM (SELECT freq,
                     list_filter(string_split(sym, '|'), x -> x <> '') AS sy
              FROM s{r - 1}))
  GROUP BY 1, 2
),
t{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
s{r} AS (SELECT word, freq,
                replace(sym, '|' || t{r}.a || '|' || t{r}.b || '|',
                        '|' || t{r}.a || t{r}.b || '|') AS sym
         FROM s{r - 1}, t{r})"""
        )
    return ",\n".join(parts)


def _bpe_merges_cached(spark, sf_dir: str) -> list[dict]:
    """The learned merge table, memoized per documents fixture:
    bpe_merges and bpe_segment share one driver-coordinated fit (the
    table is axis-sized: _BPE_MERGES dict rows)."""
    return memo(
        [f"{sf_dir}/documents.parquet"],
        ("bpe-merges", _BPE_MERGES),
        lambda: T.bpe_learn(
            load_table(spark, sf_dir, "documents"), "text", n_merges=_BPE_MERGES
        ),
    )


@register(
    "bpe_merges_documents",
    oracle=f"""
    WITH {_bpe_ctes(_BPE_MERGES)}
    SELECT * FROM ({" UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS step, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt AS pair_count FROM t{r}"
        for r in range(1, _BPE_MERGES + 1)
    )})
    ORDER BY step
    """,
)
def q_bpe_merges(spark, sf_dir):
    """The learned BPE merge table (``text.bpe_learn``): 8 rounds of
    exact pair counting over the distinct-word frame with the
    deterministic (count DESC, pair ASC) argmax. Each round is two
    wordcount-shaped shuffles over Theta(vocab) rows plus a map-only
    replace — the corpus itself is scanned exactly once for word
    frequencies, which is what makes the construction viable at
    100 TB (vocab << corpus). The twin unrolls the identical rounds;
    the merge table is served from the fixture-keyed fit cache shared
    with ``bpe_segment_documents``."""
    from bearly_spark.registry._shared import _values_frame
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    merges = _bpe_merges_cached(spark, sf_dir)
    rows = [
        (m["step"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in merges
    ]
    schema = StructType([
        StructField("step", IntegerType()),
        StructField("left_sym", StringType()),
        StructField("right_sym", StringType()),
        StructField("merged", StringType()),
        StructField("pair_count", LongType()),
    ])
    return _values_frame(spark, rows, schema)


@register(
    "bpe_segment_documents",
    oracle=f"""
    WITH {_bpe_ctes(_BPE_MERGES)},
    v AS (SELECT word,
                 len(list_filter(string_split(sym, '|'), x -> x <> ''))
                     AS n_sym,
                 length(word) AS n_chr
          FROM s{_BPE_MERGES}),
    tok AS (SELECT doc_id, word FROM (
              SELECT doc_id, lower(t) AS word
              FROM (SELECT doc_id,
                           unnest([x for x in
                                   string_split_regex(coalesce(text, ''), '\\s+')
                                   if x <> '']) AS t
                    FROM documents))
            WHERE word NOT LIKE '%|%'),
    per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(n_chr) AS BIGINT) AS n_chars,
                   CAST(SUM(n_sym) AS BIGINT) AS n_symbols
            FROM tok JOIN v USING (word) GROUP BY 1)
    SELECT d.doc_id, CAST(COALESCE(per.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(per.n_chars, 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(per.n_symbols, 0) AS BIGINT) AS n_symbols
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def q_bpe_segment(spark, sf_dir):
    """Per-document segmentation stats under the learned merges
    (``text.bpe_segment_stats``): words / chars / post-merge symbol
    counts — the bytes-per-token compression diagnostic that decides
    whether a vocab is worth shipping. The merge table applies to the
    distinct-word frame (Theta(vocab) replaces); docs pay one tokenize
    + broadcast word join + regroup. Same fit cache as
    ``bpe_merges_documents``."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_segment_stats(
        docs, "doc_id", "text", _bpe_merges_cached(spark, sf_dir)
    )


@register(
    "bpe_vocabulary_documents",
    oracle=f"""
    WITH {_bpe_ctes(_BPE_MERGES)},
    inv AS (SELECT sym_s AS symbol, CAST(SUM(freq) AS BIGINT) AS freq
            FROM (SELECT freq,
                         unnest(list_filter(string_split(sym, '|'),
                                            x -> x <> '')) AS sym_s
                  FROM s{_BPE_MERGES})
            GROUP BY 1)
    SELECT symbol, freq,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, symbol) AS INTEGER)
               AS rank
    FROM inv ORDER BY freq DESC, symbol LIMIT 50
    """,
)
def q_bpe_vocabulary(spark, sf_dir):
    """The post-merge subword inventory (``text.bpe_symbol_inventory``):
    top-50 symbols by corpus frequency under the learned merges — the
    vocabulary you'd actually ship beside the merge table.
    Deterministic ties (freq DESC, symbol ASC); symbols explode off the
    distinct-word frame (Theta(vocab)), one wordcount shuffle +
    TakeOrdered. Shares the fixture-keyed merge-table cache."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_symbol_inventory(
        docs, "text", _bpe_merges_cached(spark, sf_dir), top_v=50
    )


@register(
    "bpe_encode_documents",
    oracle=f"""
    WITH {_bpe_ctes(_BPE_MERGES)},
    v AS (SELECT word,
                 list_filter(string_split(sym, '|'), x -> x <> '') AS sy
          FROM s{_BPE_MERGES}),
    inv AS (SELECT symbol,
                   CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, symbol)
                        AS INTEGER) AS token_id
            FROM (SELECT sym_s AS symbol, SUM(freq) AS freq
                  FROM (SELECT freq,
                               unnest(list_filter(string_split(sym, '|'),
                                                  x -> x <> '')) AS sym_s
                        FROM s{_BPE_MERGES})
                  GROUP BY 1)),
    tok AS (SELECT doc_id, unnest(arr) AS word,
                   generate_subscripts(arr, 1) AS wpos
            FROM (SELECT doc_id,
                         [lower(x) for x in
                          string_split_regex(coalesce(text, ''), '\\s+')
                          if x <> '' and lower(x) NOT LIKE '%|%'] AS arr
                  FROM documents)),
    placed AS (SELECT doc_id, wpos, sy,
                      COALESCE(SUM(len(sy)) OVER (
                          PARTITION BY doc_id ORDER BY wpos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS off
               FROM tok JOIN v USING (word)),
    syms AS (SELECT doc_id,
                    CAST(off + generate_subscripts(sy, 1) AS INTEGER) AS pos,
                    unnest(sy) AS symbol
             FROM placed WHERE off < 40)
    SELECT doc_id, pos, symbol, token_id
    FROM syms JOIN inv USING (symbol)
    WHERE pos <= 40
    """,
)
def q_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION (``text.bpe_encode``): the first 40 tokens
    of every document under the learned merge table, as
    (doc_id, pos, symbol, token_id) rows with ids = full-inventory
    ranks (freq DESC, symbol ASC). Completes the BPE story:
    learn (bpe_merges) -> compression diagnostic (bpe_segment) ->
    vocabulary (bpe_vocabulary) -> ENCODE, which is what feeds
    training. Corpus cost: one tokenize + two broadcast joins + a
    per-document cumulative window; merges never touch the corpus
    (Theta(vocab) replaces on the distinct-word frame). Shares the
    fixture-keyed merge-table fit cache."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_encode(
        docs, "doc_id", "text", _bpe_merges_cached(spark, sf_dir), max_tokens=40
    )


@register(
    "pack_bpe_documents",
    oracle=f"""
    WITH {_bpe_ctes(_BPE_MERGES)},
    v AS (SELECT word,
                 len(list_filter(string_split(sym, '|'), x -> x <> ''))
                     AS n_sym
          FROM s{_BPE_MERGES}),
    tok AS (SELECT doc_id, word FROM (
              SELECT doc_id, lower(t) AS word
              FROM (SELECT doc_id,
                           unnest([x for x in
                                   string_split_regex(coalesce(text, ''), '\\s+')
                                   if x <> '']) AS t
                    FROM documents))
            WHERE word NOT LIKE '%|%'),
    per AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_toks
            FROM tok JOIN v USING (word) GROUP BY 1),
    t AS (SELECT d.doc_id, d.lang, COALESCE(per.n_toks, 0) AS n_toks
          FROM documents d LEFT JOIN per USING (doc_id)),
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
def q_pack_bpe(spark, sf_dir):
    """Sequence packing under the LEARNED tokenizer — the capstone
    composition ``bpe_learn`` -> ``bpe_segment_stats`` ->
    cumulative-token packing: context windows are budgeted in REAL
    post-merge token counts instead of ``pack_sequences_documents``'s
    whitespace proxy (the two disagree exactly where it costs money —
    long words split into many subwords). Same scale shape as both
    parents: Θ(vocab) merge replays, one tokenize + broadcast join for
    the counts, a per-lang (per-shard) window for the packing. Shares
    the fixture-keyed merge-table fit cache."""
    from pyspark.sql import Window as SW

    docs = load_table(spark, sf_dir, "documents")
    seg = T.bpe_segment_stats(
        docs, "doc_id", "text", _bpe_merges_cached(spark, sf_dir)
    ).select("doc_id", F.col("n_symbols").alias("n_toks"))
    t = docs.select("doc_id", "lang").join(seg, "doc_id", "left").select(
        "doc_id", "lang", F.coalesce("n_toks", F.lit(0)).alias("n_toks")
    )
    w = (
        SW.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(SW.unboundedPreceding, -1)
    )
    c = t.withColumn("prior", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
    return c.groupBy(
        "lang", F.floor(F.col("prior") / 2048).cast("long").alias("pack_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("tokens_total"),
    )
