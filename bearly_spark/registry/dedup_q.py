"""LLM-pipeline dedup: exact, MinHash LSH, SimHash, containment, winnowing, exact-substring, connected components, entity resolution, golden records."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import dedup as D
from bearly_spark.operators import multimodal as M
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register
from bearly_spark.registry._shared import (
    _TOKS,
    _dup_spans_cached,
    _minhash_doc_pairs_sql,
    _minhash_clusters_cached,
    _minhash_graph_ctes,
    _u2s,
)


# ===================================================================
# LLM-pipeline: dedup
# ===================================================================


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", ["text"])


@register(
    "dedup_stats_documents",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups
    FROM documents
    """,
)
def q_dedup_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dups"),
    )


@register(
    "jaccard_pairs_sample",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      list_distinct([lower(x) for x in {_TOKS}]) AS toks
               FROM documents WHERE doc_id < 200),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 ROUND(len(list_intersect(a.toks, b.toks)) /
                       GREATEST(len(list_distinct(list_concat(a.toks, b.toks))), 1), 6)
                   AS jaccard
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
    """,
)
def q_jaccard_pairs(spark, sf_dir):
    """Brute-force n-gram(1) Jaccard over a bounded id range — the
    exactness oracle for the MinHash path."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return D.jaccard_pairs(d, "doc_id", "text", threshold=0.5)


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_doc_pairs_sql()}
    SELECT id_a, id_b, jaccard FROM cross_pairs
    UNION ALL SELECT id_a, id_b, jaccard FROM same_pairs
    """


def _minhash_clusters_oracle() -> str:
    """Twin of ``dedup.minhash_dup_clusters``: connected components
    (recursive min-label walk) over the representative-pair graph,
    same-text groups (≥2 copies, non-null) as solo components, labels
    expanded to docs through membership — mirroring
    ``_winnow_clusters_oracle``."""
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
             UNION ALL SELECT gid, component FROM solo)
    SELECT m.doc_id, a.component AS cluster
    FROM m JOIN allc a ON a.gid = m.gid
    """


def _minhash_components_oracle() -> str:
    """Twin of ``dedup_components``: components over the DOC-level pair
    graph (cross + within-group pairs at 24×3 banding, threshold 0.5),
    every doc labeled (self-label when edgeless), per-component
    membership stats for components of ≥ 2."""
    pairs = _minhash_doc_pairs_sql(num_hashes=72, bands=24, threshold=0.5)
    return f"""
    WITH RECURSIVE {pairs},
    dp AS (SELECT id_a, id_b FROM cross_pairs UNION SELECT id_a, id_b FROM same_pairs),
    e AS (SELECT id_a AS u, id_b AS v FROM dp
          UNION SELECT id_b AS u, id_a AS v FROM dp),
    walk(u, label) AS (
        SELECT u, u FROM e
        UNION
        SELECT e.v, w2.label FROM walk w2 JOIN e ON w2.u = e.u),
    comp AS (SELECT u AS doc_id, MIN(label) AS component FROM walk GROUP BY u),
    lab AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component_id
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
    SELECT component_id, COUNT(*) AS n_members, MAX(doc_id) AS max_member
    FROM lab GROUP BY component_id HAVING COUNT(*) >= 2
    ORDER BY component_id
    """


def _simhash_oracle(max_hamming: int = 3, max_bucket: int = 1000) -> str:
    """Exact DuckDB twin of ``dedup.simhash_dedup_pairs``: per-token
    md5-derived 64-bit hashes (duplicates count), the 64-column bit-sum
    sign signature rebuilt via unnest over bit positions + grouped sums,
    16-bit pigeonhole chunk blocking with the distinct-content bucket
    cap, and ``bit_count(xor(...))`` Hamming verify — null/empty texts
    signature 0 (they pair at Hamming 0, the operator's documented
    semantics)."""
    sa = _u2s("a.us")
    sb = _u2s("b.us")
    return f"""
    WITH g0 AS (SELECT MIN(doc_id) AS gid, COUNT(*) AS gsize, text
                FROM documents GROUP BY text),
    m AS (SELECT d.doc_id, g0.gid FROM documents d
          JOIN g0 ON d.text IS NOT DISTINCT FROM g0.text),
    t AS (SELECT gid, [lower(x) for x in string_split_regex(coalesce(text, ''), '\\s+')
                       if x <> ''] AS toks FROM g0),
    tk AS (SELECT gid, unnest(toks) AS tok FROM t),
    th AS (SELECT gid, ('0x'||substr(md5(tok),1,16))::UBIGINT AS h FROM tk),
    acc AS (SELECT gid, s,
                   SUM(CASE WHEN (h >> s::UBIGINT) & 1::UBIGINT = 1::UBIGINT
                       THEN 1 ELSE -1 END) AS a
            FROM th CROSS JOIN (SELECT unnest(range(64)) AS s) GROUP BY gid, s),
    sgp AS (SELECT gid, SUM(CASE WHEN a > 0 THEN (1::HUGEINT << s)
                            ELSE 0::HUGEINT END) AS us FROM acc GROUP BY gid),
    sig AS (SELECT g0.gid, COALESCE(sgp.us, 0::HUGEINT)::UBIGINT AS us
            FROM g0 LEFT JOIN sgp ON sgp.gid = g0.gid),
    ch AS (SELECT gid, us, c, ((us >> (16*c)::UBIGINT) & 65535::UBIGINT) AS key
           FROM sig CROSS JOIN (SELECT unnest(range(4)) AS c)),
    bc AS (SELECT c, key, COUNT(*) AS n FROM ch GROUP BY 1,2),
    reppairs AS (SELECT DISTINCT a.gid AS ga, b.gid AS gb,
                   CAST(bit_count(xor({sa}, {sb})) AS INTEGER) AS hamming
                 FROM ch a JOIN ch b ON a.c=b.c AND a.key=b.key AND a.gid<b.gid
                 JOIN bc ON bc.c=a.c AND bc.key=a.key AND bc.n BETWEEN 2 AND {max_bucket}
                 WHERE bit_count(xor({sa}, {sb})) <= {max_hamming}),
    cross_pairs AS (SELECT LEAST(m1.doc_id, m2.doc_id) AS id_a,
                           GREATEST(m1.doc_id, m2.doc_id) AS id_b, r.hamming
                    FROM reppairs r JOIN m m1 ON m1.gid = r.ga JOIN m m2 ON m2.gid = r.gb),
    same_pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0::INTEGER AS hamming
                   FROM g0 s JOIN m a ON a.gid = s.gid
                   JOIN m b ON b.gid = s.gid AND a.doc_id < b.doc_id
                   WHERE s.gsize >= 2)
    SELECT id_a, id_b, hamming FROM cross_pairs
    UNION ALL SELECT id_a, id_b, hamming FROM same_pairs
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs — oracle-checked end to end since
    round 4: the md5-derived shingle hash, the 64-permutation signature,
    the md5 band buckets, the distinct-content bucket cap AND the exact
    Jaccard verify are all recomputed in DuckDB (``_minhash_oracle``)."""
    return D.minhash_dedup_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.8
    )


@register("dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs — oracle-checked end to end since round 4:
    the per-token md5-derived hash, the bit-sum sign signature, chunk
    blocking and Hamming verify are all recomputed in DuckDB
    (``_simhash_oracle``)."""
    return D.simhash_dedup_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


@register(
    "dedup_keep_representatives",
    oracle="""
    WITH k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN k USING (doc_id)
    """,
)
def q_dedup_keep(spark, sf_dir):
    """End-to-end exact-dedup: keep one representative row (min doc_id)
    per content group via semi-join (dedup.drop_exact_dups)."""
    d = load_table(spark, sf_dir, "documents")
    return D.drop_exact_dups(d, "doc_id", ["text"]).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _winnow_oracle(
    k: int = 16, window: int = 8, min_shared: int = 8, max_posting: int = 1000
) -> str:
    """Exact DuckDB twin of ``winnow_overlap_pairs``: the Rabin-Karp
    polynomial hash (base 257 mod 2^61-1) is plain integer arithmetic, so
    it is computable in SQL with the power constants inlined (HUGEINT
    keeps the code*power products exact; codes are codepoints, identical
    to the UDF's utf-32 view). Window minima take the LEFTMOST min per
    span, mirroring numpy argmin; the fingerprint set is the distinct
    picked values (sorted). Mirrors the operator's duplicate-mass-
    invariant GROUP-level semantics: docs collapse into groups by exact
    fingerprint set (DuckDB groups by the list value directly), the
    posting cap and shared-print counting run over groups, and doc pairs
    are expanded from group pairs + within-group membership."""
    body = _winnow_graph_ctes(k, window, min_shared, max_posting)
    return f"""
    WITH {body},
    cross_pairs AS (
        SELECT LEAST(m1.doc_id, m2.doc_id) AS id_a,
               GREATEST(m1.doc_id, m2.doc_id) AS id_b,
               r.shared AS shared_prints
        FROM reppairs r
        JOIN m m1 ON m1.gid = r.ga
        JOIN m m2 ON m2.gid = r.gb),
    same_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, s.shared_prints
        FROM samegrp s
        JOIN m a ON a.gid = s.gid
        JOIN m b ON b.gid = s.gid AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, shared_prints FROM cross_pairs
    UNION ALL
    SELECT id_a, id_b, shared_prints FROM same_pairs
    """


def _winnow_graph_ctes(
    k: int = 16, window: int = 8, min_shared: int = 8, max_posting: int = 1000
) -> str:
    """The shared CTE chain of the winnowing twins: fingerprints →
    fingerprint-set groups → capped inverted index → representative
    pairs (reppairs: ga, gb, shared) + qualifying same-set groups
    (samegrp: gid, shared_prints) + membership (m: doc_id, gid)."""
    mod = D._WINNOW_MOD
    powers = [int(p) for p in D._winnow_powers(k)]
    gram_sum = " + ".join(
        f"CAST(unicode(s[i + {j}]) AS HUGEINT) * {powers[j]}::HUGEINT" for j in range(k)
    )
    return f"""d AS (SELECT doc_id, lower(text) AS s FROM documents),
    h AS (SELECT doc_id,
            CASE WHEN length(s) < {k} THEN []::BIGINT[]
                 ELSE [CAST((({gram_sum}) % {mod}::HUGEINT) AS BIGINT)
                       for i in range(1, length(s) - {k} + 2)]
            END AS hs
          FROM d),
    w AS (SELECT doc_id,
            CASE WHEN len(hs) = 0 THEN []::BIGINT[]
                 WHEN len(hs) <= {window} THEN [list_min(hs)]
                 ELSE list_sort(list_distinct(
                     [hs[i - 1 + list_indexof(hs[i:i + {window - 1}],
                                              list_min(hs[i:i + {window - 1}]))]
                      for i in range(1, len(hs) - {window} + 2)]))
            END AS fps
          FROM h),
    g AS (SELECT fps, MIN(doc_id) AS gid, COUNT(*) AS gsize
          FROM w GROUP BY fps),
    m AS (SELECT w.doc_id, g.gid FROM w JOIN g ON w.fps = g.fps),
    ex AS (SELECT gid, unnest(fps) AS print FROM g),
    post AS (SELECT print, COUNT(*) AS c FROM ex GROUP BY print),
    reppairs AS (
        SELECT a.gid AS ga, b.gid AS gb, COUNT(*) AS shared
        FROM ex a
        JOIN ex b ON a.print = b.print AND a.gid < b.gid
        JOIN post p ON p.print = a.print AND p.c BETWEEN 2 AND {max_posting}
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_shared}),
    capped AS (SELECT ex.gid, COUNT(*) AS n_capped
               FROM ex JOIN post p ON p.print = ex.print AND p.c > {max_posting}
               GROUP BY ex.gid),
    samegrp AS (
        SELECT g.gid, CAST(len(g.fps) - COALESCE(c.n_capped, 0) AS BIGINT) AS shared_prints
        FROM g LEFT JOIN capped c ON c.gid = g.gid
        WHERE g.gsize >= 2
          AND len(g.fps) - COALESCE(c.n_capped, 0) >= {min_shared})"""


def _winnow_clusters_oracle(
    k: int = 16, window: int = 8, min_shared: int = 8, max_posting: int = 1000
) -> str:
    """Twin of ``winnow_dup_clusters``: connected components (recursive
    min-label walk) over the representative-pair graph, qualifying
    same-set groups as their own components, labels expanded to docs
    through group membership. cluster = min doc id in the component
    (component labels are min gid, and every gid is its group's min
    doc id)."""
    body = _winnow_graph_ctes(k, window, min_shared, max_posting)
    return f"""
    WITH RECURSIVE {body},
    e AS (SELECT ga AS u, gb AS v FROM reppairs
          UNION SELECT gb AS u, ga AS v FROM reppairs),
    walk(u, label) AS (
        SELECT u, u FROM e
        UNION
        SELECT e.v, w2.label FROM walk w2 JOIN e ON w2.u = e.u),
    comp AS (SELECT u AS gid, MIN(label) AS component FROM walk GROUP BY u),
    solo AS (SELECT s.gid, s.gid AS component FROM samegrp s
             WHERE s.gid NOT IN (SELECT gid FROM comp)),
    allc AS (SELECT gid, component FROM comp
             UNION ALL SELECT gid, component FROM solo)
    SELECT m.doc_id, a.component AS cluster
    FROM m JOIN allc a ON a.gid = m.gid
    """


@register("fingerprint_winnow_pairs", oracle=_winnow_oracle())
def q_winnow_pairs(spark, sf_dir):
    """Winnowed rolling-hash fingerprint overlap — substring-level near-dup
    pairs (MOSS-style); semantics pinned by planted tests AND an exact
    DuckDB twin (the rolling hash is plain modular arithmetic — see
    ``_winnow_oracle``). k=16/window=8: guarantees detection of any
    shared passage >= 23 chars while staying selective on this
    shared-vocabulary corpus (8-char grams paired ~everything)."""
    return D.winnow_overlap_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", min_shared=8
    )


@register("winnow_clusters_documents", oracle=_winnow_clusters_oracle())
def q_winnow_clusters(spark, sf_dir):
    """Group-mode winnowing output (``dedup.winnow_dup_clusters``):
    (doc_id, cluster) labels instead of the quadratic pair expansion —
    the default consumption shape for dedup (round-3 verdict #2: at 256×
    duplicate mass pair mode materializes 163M within-group pairs nobody
    needs; cluster mode's cost is invariant to exact-copy mass). Twin:
    recursive min-label walk over the same representative-pair graph."""
    return D.winnow_dup_clusters(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", min_shared=8
    )


_SUBSTR_SPANS_SQL = """
    WITH g AS (
      SELECT doc_id, p AS pos, substr(text, p, 30) AS gram
      FROM documents, LATERAL unnest(generate_series(1, length(text) - 29)) AS t(p)
      WHERE length(text) >= 30
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    isl AS (SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM d),
    spans AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 29 AS span_end,
                     MAX(pos) + 30 - MIN(pos) AS span_len
              FROM isl GROUP BY doc_id, island)
    """


@register(
    "substring_dup_spans_documents",
    oracle=_SUBSTR_SPANS_SQL
    + "SELECT doc_id, span_start, span_end, span_len FROM spans WHERE span_len >= 60",
)
def q_substring_dup_spans(spark, sf_dir):
    """EXACT substring dedup, span-report half
    (``dedup.duplicate_spans``): every maximal run >= 60 chars that
    also occurs elsewhere in the corpus, as 1-based inclusive character
    spans — the Lee-et-al-2022 operation that document-level MinHash
    misses (boilerplate inside otherwise-distinct docs). k=30 grams,
    duplicated iff corpus count > 1, gaps-and-islands merge. Served
    from the fixture-keyed scratch span report shared with the removal
    half (``_shared._dup_spans_cached``)."""
    return _dup_spans_cached(spark, sf_dir)


@register(
    "substring_dedup_clean_documents",
    oracle=_SUBSTR_SPANS_SQL
    + """,
    keep AS (SELECT * FROM spans WHERE span_len >= 60),
    gaps AS (
      SELECT doc_id, span_start, span_len,
             substr(text, prev_end + 1, span_start - prev_end - 1) AS gap,
             MAX(span_end) OVER (PARTITION BY doc_id) AS max_end
      FROM (SELECT s.*, d2.text,
                   LAG(span_end, 1, 0) OVER (PARTITION BY s.doc_id
                                             ORDER BY span_start) AS prev_end
            FROM keep s JOIN documents d2 USING (doc_id))
    ),
    agg AS (SELECT doc_id, string_agg(gap, '' ORDER BY span_start) AS head,
                   MAX(max_end) AS max_end, COUNT(*) AS n_spans_removed,
                   SUM(span_len) AS chars_removed
            FROM gaps GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN a.head IS NULL THEN d.text
                ELSE a.head || substr(d.text, a.max_end + 1) END AS cleaned,
           COALESCE(n_spans_removed, 0) AS n_spans_removed,
           CAST(COALESCE(chars_removed, 0) AS BIGINT) AS chars_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_substring_dedup_clean(spark, sf_dir):
    """The removal half (``dedup.remove_duplicate_spans``): cut every
    reported duplicated span out and stitch the remainder — docs with
    no spans pass through intact; counters ride along. The twin
    replays the gap/lag/string_agg stitch verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    spans = _dup_spans_cached(spark, sf_dir)
    return D.remove_duplicate_spans(docs, spans, "doc_id", "text")


@register(
    "line_dedup_clean_documents",
    oracle="""
    WITH l AS (
      SELECT doc_id, p AS pos, ls[p] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
            FROM documents WHERE text IS NOT NULL) d0,
           LATERAL unnest(generate_series(1, len(ls))) AS t(p)
    ),
    bp AS (SELECT line FROM l WHERE length(line) >= 4
           GROUP BY line HAVING COUNT(*) >= 3),
    m AS (SELECT l.doc_id, l.pos, l.line, bp.line IS NOT NULL AS is_bp
          FROM l LEFT JOIN bp ON l.line = bp.line),
    a AS (SELECT doc_id,
                 string_agg(CASE WHEN NOT is_bp THEN line END,
                            chr(10) ORDER BY pos) AS cleaned0,
                 CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lines_removed
          FROM m GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE COALESCE(a.cleaned0, '') END AS cleaned,
           COALESCE(a.n_lines_removed, 0) AS n_lines_removed
    FROM documents d LEFT JOIN a USING (doc_id)
    """,
)
def q_line_dedup_clean(spark, sf_dir):
    """Corpus-frequency line dedup (``dedup.line_frequency_clean``):
    the CCNet/RefinedWeb boilerplate pass — every line occurring ≥ 3
    times corpus-wide (length ≥ 4; blank/separator lines exempt) is cut
    from every document, surviving lines stitched back in order. The
    line-granularity complement of exact substring dedup: templated
    short lines (nav bars, footers) repeat across pages without ever
    forming a 60-char duplicated run. Wordcount-shaped frequency
    shuffle + AQE-broadcast flag join + one groupBy(id) rebuild."""
    return D.line_frequency_clean(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        min_count=3, min_line_chars=4,
    )


@register("dedup_clusters_minhash", oracle=_minhash_clusters_oracle())
def q_minhash_clusters(spark, sf_dir):
    """Group-mode MinHash output (``dedup.minhash_dup_clusters``):
    (doc_id, cluster) labels via components over the representative-pair
    graph — never materializes within-group pairs. Oracle-checked since
    round 4 (recursive min-label walk over the DuckDB-recomputed
    representative-pair graph) on top of the pair-vs-cluster
    equivalence test in tests/test_llm_ops.py. Served from the
    fixture-keyed scratch cluster map shared with the cluster-aware
    split (``_shared._minhash_clusters_cached``)."""
    return _minhash_clusters_cached(spark, sf_dir)


@register(
    "levenshtein_near_dup",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS prefix_dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 5
    WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 20
    """,
)
def q_levenshtein(spark, sf_dir):
    """Edit-distance near-dup candidates: (lang, length-bucket) composite
    equi-key blocking, then a 40-char-prefix Levenshtein filter. The
    string-metric complement to the token-set (Jaccard/MinHash) and
    bit-vector (SimHash) dedup families.

    Scale/plan notes (the first cut was 35x slower — see PLANS.md):
    - the +/-5 length band is carried IN the hash-join key (one side
      explodes to its 3 neighbor width-8 buckets; band < width means
      neighbors suffice, and |bucket delta| <= 1 matches each pair exactly
      once), so the join probes ~band-sized groups instead of whole-language
      groups — and the key has lang x buckets cardinality instead of 5
      skewed language keys;
    - every predicate lives in the join condition ordered cheap -> expensive:
      Catalyst merges a post-join filter into the join residual PREPENDED,
      which put levenshtein first and ran it on every same-language pair
      (3.2M at sf0.1) instead of the ~69k banded ones;
    - the in-join distance uses the bounded form levenshtein(a, b, 20)
      (banded DP, early-abandon above the threshold, -1 sentinel)."""
    docs = load_table(spark, sf_dir, "documents")
    bkt = F.floor(F.col("n_chars") / F.lit(8)).cast("long")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("n_chars").alias("nc_a"),
        F.substring("text", 1, 40).alias("pref_a"),
        bkt.alias("bkt_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_chars").alias("nc_b"),
        F.substring("text", 1, 40).alias("pref_b"),
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("bkt_b"),
    )
    bounded_dist = F.levenshtein("pref_a", "pref_b", 20)
    cond = (
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("bkt_a") == F.col("bkt_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 5)
        & (bounded_dist >= 0)
    )
    return a.join(b, cond).select("id_a", "id_b", bounded_dist.alias("prefix_dist"))


@register("dedup_components", oracle=_minhash_components_oracle())
def q_dedup_components(spark, sf_dir):
    """Cluster-level dedup: MinHash near-dup pairs -> connected components
    -> per-cluster membership stats. The transitive-closure step pairwise
    dedup can't express (A~B, B~C groups all three); chain semantics are
    pinned by planted tests in tests/test_llm_ops.py AND, since round 4,
    an exact DuckDB twin (components over the DuckDB-recomputed doc-level
    minhash pair graph — ``_minhash_components_oracle``)."""
    docs = load_table(spark, sf_dir, "documents")
    # 24 bands x 3 rows: capture of a true 0.5-Jaccard pair is
    # 1-(1-0.5^3)^24 = 0.96 (the default 16x4 scheme only reaches 0.645
    # at this threshold: its S-curve midpoint sits AT 0.5; the earlier
    # 20x3 scheme reached 0.93), while random s=0.1 pairs still only
    # become candidates ~2.4% of the time. Cost vs 20x3: +20% signature
    # width and band rows — the verify join stays candidate-bounded.
    pairs = D.minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=72, bands=24, threshold=0.5
    )
    cc = D.connected_components(pairs, "id_a", "id_b")
    labeled = docs.select("doc_id").join(
        cc, F.col("doc_id") == F.col("node"), "left"
    ).select("doc_id", F.coalesce("component", F.col("doc_id")).alias("component_id"))
    return (
        labeled.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("doc_id").alias("max_member"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("component_id")
    )


@register(
    "dedup_components_jaccard",
    oracle="""
    WITH RECURSIVE
    t AS (SELECT doc_id,
                 list_distinct([lower(x) for x in string_split_regex(text, '\\s+')
                                if x <> '']) AS toks
          FROM documents WHERE doc_id < 200),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))
                / GREATEST(len(list_distinct(list_concat(a.toks, b.toks))), 1)
                >= 0.9),
    e AS (SELECT id_a AS u, id_b AS v FROM p
          UNION SELECT id_b AS u, id_a AS v FROM p),
    walk(u, label) AS (
        SELECT u, u FROM e
        UNION
        SELECT e.v, w.label FROM walk w JOIN e ON w.u = e.u
    )
    SELECT u AS node, MIN(label) AS component FROM walk GROUP BY u
    """,
)
def q_dedup_components_jaccard(spark, sf_dir):
    """Connected components over an ENGINE-INDEPENDENT edge set — exact
    token-set Jaccard >= 0.9 on the bounded doc_id < 200 sample (the same
    bounded-brute contract as jaccard_pairs_sample) — so the full
    pairs -> clusters propagation is value-checked against a DuckDB
    recursive-CTE transitive closure, not just rows-only. The MinHash-edge
    variant (``dedup_components``) stays rows-only by design (seeded
    engine-specific signatures); this query proves the clustering step
    itself on edges both engines can agree on."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.9)
    return D.connected_components(pairs, "id_a", "id_b")


@register(
    "binary_near_dup_documents",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS ck, MIN(doc_id) AS gid, COUNT(*) AS gsize
      FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
    ),
    mem AS (SELECT d.doc_id, g.gid FROM documents d JOIN g ON md5(d.text) = g.ck),
    rep AS (SELECT g.gid, d.text FROM g JOIN documents d ON d.doc_id = g.gid
            WHERE length(d.text) > 0),
    blk AS (
      SELECT DISTINCT gid, md5(substr(text, CAST(i*32+1 AS INT), 32)) AS bh
      FROM rep, UNNEST(range(CAST(ceil(length(text)/32.0) AS BIGINT))) AS u(i)
    ),
    sz AS (SELECT gid, COUNT(*) AS n FROM blk GROUP BY gid),
    post AS (SELECT bh FROM blk GROUP BY bh HAVING COUNT(*) BETWEEN 2 AND 1000),
    shared AS (
      SELECT a.gid AS ga, b.gid AS gb, COUNT(*) AS s
      FROM blk a JOIN post p ON p.bh = a.bh
           JOIN blk b ON b.bh = a.bh AND a.gid < b.gid
      GROUP BY a.gid, b.gid
    ),
    rp AS (
      SELECT ga, gb,
             ROUND(CAST(s AS DOUBLE) / (sa.n + sb.n - s), 6) AS j
      FROM shared JOIN sz sa ON sa.gid = ga JOIN sz sb ON sb.gid = gb
    ),
    cross_p AS (
      SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a,
             GREATEST(ma.doc_id, mb.doc_id) AS id_b, j AS jaccard
      FROM rp JOIN mem ma ON ma.gid = rp.ga JOIN mem mb ON mb.gid = rp.gb
      WHERE j >= 0.3
    ),
    same_p AS (
      SELECT ma.doc_id AS id_a, mb.doc_id AS id_b, 1.0 AS jaccard
      FROM g JOIN mem ma ON ma.gid = g.gid JOIN mem mb ON mb.gid = g.gid
      WHERE g.gsize >= 2 AND ma.doc_id < mb.doc_id
    )
    SELECT id_a, id_b, jaccard FROM cross_p
    UNION ALL SELECT id_a, id_b, jaccard FROM same_p
    """,
)
def q_binary_near_dup(spark, sf_dir):
    """MULTIMODAL near-dup dedup (round 6,
    ``multimodal.binary_near_dup_pairs``): Jaccard over fixed 32-byte
    block hashes of the raw payload binary — the storage-style chunk
    dedup for image/audio/video columns (re-encoded containers,
    truncated/patched copies), zero UDFs (sequence + substring + md5 on
    BinaryType, inverted-index discovery, capped postings). Payloads
    here are the documents' UTF-8 bytes via ``attach_payload``; the
    DuckDB twin recomputes the identical pipeline over char substrings
    (the fixture is pure ASCII, so byte and char offsets coincide —
    asserted obliquely by the hash match itself). Planted-payload
    semantics (aligned tail edits pair, shifted insertions don't,
    boilerplate-block cap) pinned in tests/test_llm_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    return M.binary_near_dup_pairs(
        M.attach_payload(docs), block_bytes=32, threshold=0.3
    )


@register(
    "entity_match_parts",
    oracle="""
    WITH bs AS (SELECT p_type, COUNT(*) AS bsz FROM part GROUP BY p_type),
    ok AS (SELECT p.* FROM part p JOIN bs
             ON bs.p_type IS NOT DISTINCT FROM p.p_type
           WHERE bs.bsz <= 10000),
    p AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             COALESCE(1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                   / GREATEST(length(a.p_name), length(b.p_name), 1), 0.0) AS sim_p_name,
             CAST(COALESCE(CASE WHEN a.p_brand = b.p_brand
                           THEN 1.0 ELSE 0.0 END, 0.0) AS DOUBLE)
                 AS sim_p_brand,
             COALESCE(GREATEST(0.0, 1.0 - CAST(abs(a.p_size - b.p_size) AS DOUBLE)
                   / 50.0), 0.0) AS sim_p_size
      FROM ok a JOIN ok b
        ON a.p_type IS NOT DISTINCT FROM b.p_type AND a.p_partkey < b.p_partkey)
    SELECT id_a, id_b, sim_p_name, sim_p_brand, sim_p_size, score,
           CASE WHEN score >= 0.8 THEN 'match' ELSE 'possible' END AS tier
    FROM (SELECT *, ROUND(0.5 * sim_p_name + 0.3 * sim_p_brand
                          + 0.2 * sim_p_size, 6) AS score FROM p)
    WHERE score >= 0.6
    """,
)
def q_entity_match(spark, sf_dir):
    """Entity resolution (``dedup.entity_match_pairs``): blocked
    pairwise record linkage over parts — block on p_type, weighted
    name-Levenshtein + brand-exact + size-proximity score, tiered
    match/possible (Fellegi-Sunter shape). Each similarity is a fixed
    single-op IEEE tree over exact ints and the weighted sum adds in
    field order, so the twin reproduces every 6dp score. The
    mega-block cap (default 10k — no sf's p_type block comes near it)
    is mirrored in the twin's block-size CTE, so the recall contract
    stays oracle-checked at every scale."""
    from pyspark.sql import Observation

    pt = load_table(spark, sf_dir, "part")
    return D.entity_match_pairs(
        pt,
        "p_partkey",
        ["p_type"],
        [("p_name", 0.5, "levenshtein"),
         ("p_brand", 0.3, "exact"),
         ("p_size", 0.2, "numeric:50")],
        match_threshold=0.8,
        possible_threshold=0.6,
        # armed cap + attached Observation (ADVICE r8: an unobserved
        # cap makes recall loss invisible); the driver never reads it,
        # but the drop metrics are recorded and the call-time warning
        # stays quiet
        observation=Observation("entity_match_cap"),
    )




@register(
    "dedup_components_star",
    oracle="""
    WITH RECURSIVE
    t AS (SELECT doc_id,
                 list_distinct([lower(x) for x in string_split_regex(text, '\\s+')
                                if x <> '']) AS toks
          FROM documents WHERE doc_id < 200),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))
                / GREATEST(len(list_distinct(list_concat(a.toks, b.toks))), 1)
                >= 0.9),
    e AS (SELECT id_a AS u, id_b AS v FROM p
          UNION SELECT id_b AS u, id_a AS v FROM p),
    walk(u, label) AS (
        SELECT u, u FROM e
        UNION
        SELECT e.v, w.label FROM walk w JOIN e ON w.u = e.u
    )
    SELECT u AS node, MIN(label) AS component FROM walk GROUP BY u
    """,
)
def q_dedup_components_star(spark, sf_dir):
    """Same engine-independent edge set and oracle as
    ``dedup_components_jaccard``, but clustered with the O(log n)
    large-star/small-star contraction instead of label propagation —
    the two algorithms are value-checked EQUAL through the harness
    (and to DuckDB's recursive closure)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.9)
    return D.connected_components_star(pairs, "id_a", "id_b")


@register(
    "containment_pairs_documents",
    oracle="""
    WITH toks AS (SELECT doc_id AS id,
                         list_distinct([lower(x) for x in
                                        string_split_regex(coalesce(text, ''), '\\s+')
                                        if x <> '']) AS ts
                  FROM documents),
    nz AS (SELECT * FROM toks WHERE len(ts) > 0),
    inv AS (SELECT id, unnest(ts) AS token FROM nz),
    rare AS (SELECT token FROM inv GROUP BY token HAVING COUNT(*) <= 100),
    posts AS (SELECT id, token FROM inv JOIN rare USING (token)),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM posts a JOIN posts b USING (token)
             WHERE a.id < b.id),
    v AS (SELECT id_a, id_b,
                 len(list_intersect(ta.ts, tb.ts)) AS overlap,
                 len(ta.ts) AS na, len(tb.ts) AS nb
          FROM cand JOIN nz ta ON ta.id = cand.id_a
                    JOIN nz tb ON tb.id = cand.id_b)
    SELECT id_a, id_b, overlap,
           ROUND(CAST(overlap AS DOUBLE) / na, 6) AS containment_a,
           ROUND(CAST(overlap AS DOUBLE) / nb, 6) AS containment_b
    FROM v
    WHERE GREATEST(ROUND(CAST(overlap AS DOUBLE) / na, 6),
                   ROUND(CAST(overlap AS DOUBLE) / nb, 6)) >= 0.8
    """,
)
def q_containment_pairs(spark, sf_dir):
    """Asymmetric token-containment near-dup pairs
    (``dedup.containment_pairs``): |A∩B|/|A| ≥ 0.8 in the larger
    direction — catches short-doc-inside-long-doc pairs that Jaccard
    structurally scores low (quote+commentary, boilerplate wrappers,
    chunk-of-superset leaks). Capped inverted-index discovery
    (df ≤ 100), exact verify on full token sets."""
    from bearly_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        threshold=0.8, max_df=100,
    )


@register(
    "golden_records_parts",
    oracle="""
    WITH ranked AS (
      SELECT p_brand, p_size, p_name,
             ROW_NUMBER() OVER (PARTITION BY p_brand, p_size
                                ORDER BY length(p_name) DESC, p_name ASC) AS rn
      FROM part WHERE p_name IS NOT NULL),
    longest AS (SELECT p_brand, p_size, p_name AS golden_name
                FROM ranked WHERE rn = 1),
    agg AS (SELECT p_brand, p_size, COUNT(*) AS n_members,
                   MIN(p_partkey) AS golden_partkey,
                   MAX(p_retailprice) AS best_price
            FROM part GROUP BY 1, 2)
    SELECT agg.p_brand, agg.p_size, n_members, golden_partkey,
           golden_name, best_price
    FROM agg LEFT JOIN longest USING (p_brand, p_size)
    """,
)
def q_golden_records(spark, sf_dir):
    """Survivorship / golden-record merge (``dedup.golden_records``):
    each (brand, size) cluster of part records collapses to one
    canonical row — smallest key as the surviving id, LONGEST name
    (most-complete-field-wins, ties to the smaller value), best price.
    The master-data step after entity resolution: block → score →
    cluster → MERGE. One groupBy, every rule a single aggregate
    expression (min/max/min_by over a composite ordering struct)."""
    from bearly_spark.operators.dedup import golden_records

    pt = load_table(spark, sf_dir, "part")
    return golden_records(
        pt,
        ["p_brand", "p_size"],
        {
            "golden_partkey": ("p_partkey", "min"),
            "golden_name": ("p_name", "longest"),
            "best_price": ("p_retailprice", "max"),
        },
    )
