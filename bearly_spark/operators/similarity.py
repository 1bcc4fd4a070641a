"""Embedding similarity search: brute-force cosine top-k + LSH ANN.

Scale path (100 TB / billions of vectors):
- the **query side is collected** (queries are few by contract — same
  contract as Spark ML's ``approxNearestNeighbors`` key) and shipped to
  every partition inside an Arrow-batched ``mapInPandas`` kernel; the
  corpus never shuffles for scoring — each partition matmuls its own
  vectors against the query matrix and emits only its local top-k per
  query, so the global rank window sees ≤ partitions×k×n_queries rows,
  not corpus×n_queries;
- the **LSH variant** (random-hyperplane signatures) buckets corpus and
  queries by signature bands and only scores within matching buckets —
  the 100 TB default, with brute force as the exactness oracle. Only
  (id, band, bkey) rows travel through the bucket shuffle; vectors are
  joined back for the (small) candidate rerank;
- all inner products are numpy matmuls over Arrow batches. The
  ``zip_with``/``aggregate`` built-ins were abandoned: Spark's
  higher-order array functions are CodegenFallback (interpreted,
  per-element) and benched ~50x slower than one BLAS call per batch.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, Window

from bearly_spark.operators.dedup import _bucket_pairs, connected_components
from bearly_spark.streaming.store import drain, write_batch


#: Driver-collect contract for the query-side ANN probes: these paths
#: broadcast the QUERY SET from the driver (small queries vs huge
#: corpus, the Spark ML ``approxNearestNeighbors``-key contract). The
#: cap makes the assumption CHECKED instead of an unbounded collect
#: that would OOM the driver on a 10M-query probe.
MAX_DRIVER_QUERIES = 100_000


def collect_query_rows(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_queries: int | None = None,
    what: str = "query set",
):
    """Collect the (id, vector) query rows under the driver-collect
    contract: the collect itself is LIMIT-bounded (never materializes
    more than ``max_queries + 1`` rows driver-side, no separate count
    job), and a query frame past the cap raises with a pointer at the
    banded-join / persisted-index forms that handle query sets at
    scale (``streaming.ann_index.ann_query_over_index``, the LSH
    band-join path). ``max_queries`` defaults to
    :data:`MAX_DRIVER_QUERIES`, read at call time."""
    if max_queries is None:
        max_queries = MAX_DRIVER_QUERIES
    rows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_queries + 1)
        .collect()
    )
    if len(rows) > max_queries:
        raise ValueError(
            f"{what} exceeds the driver-collect contract "
            f"({max_queries} rows): probe paths broadcast queries from "
            "the driver by design — for large query sets use the "
            "banded-join / persisted-index forms "
            "(streaming.ann_index.ann_query_over_index, ivf_index)"
        )
    return rows


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (sequential left-to-right fold, deterministic).

    Kept for expression-level composition / small arrays; hot paths use
    the vectorized kernels below instead (interpreted per-element eval).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    na = norm_a if norm_a is not None else l2_norm(a)
    nb = norm_b if norm_b is not None else l2_norm(b)
    return dot(a, b) / (na * nb)


def _vec_matrix(series, dtype=np.float64) -> np.ndarray:
    """Stack an Arrow list column (or a list of vectors) into an (n, dim)
    matrix, float64 unless ``dtype`` says otherwise. The rows stack in
    their own dtype and the matrix converts once, which gives the same
    values as converting each row (float32 → float64 and int32 → int64
    are exact) without a temporary array per row."""
    return np.asarray([np.asarray(v) for v in series], dtype=dtype)


def _norms(mat: np.ndarray) -> np.ndarray:
    """Row L2 norms, zero rows read as 1 (a zero vector's cosine is 0)."""
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return norms


def _query_matrix(qrows, dim: int = 0) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, float64 matrix, norms) of collected (id, vector) rows; no
    rows give a (0, ``dim``) matrix."""
    qmat = _vec_matrix([r[1] for r in qrows]) if qrows else np.empty((0, dim))
    return np.asarray([r[0] for r in qrows], dtype=np.int64), qmat, _norms(qmat)


def _cosine_matrix(mat: np.ndarray, qmat: np.ndarray, qnorm: np.ndarray) -> np.ndarray:
    """6dp-rounded cosine of every (row, query) pair: one BLAS matmul."""
    return np.round((mat @ qmat.T) / (_norms(mat)[:, None] * qnorm[None, :]), 6)


def make_cosine_udf():
    """(array, array) -> cosine similarity, one numpy pass per Arrow batch.
    Built lazily: pandas_udf registration needs an active session."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma, mb = _vec_matrix(a), _vec_matrix(b)
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        den[den == 0] = 1.0
        return pd.Series(num / den)

    return _cos


# ------------------------------------------------- the shared top-k stages
#
# Every vector top-k path has one shape: a partition-local top-n per
# query under the GLOBAL ordering key (so the global top-n survives the
# local cut), one window over what is left, and — where candidates come
# from an approximate structure — one exact-cosine rerank tail. Rows
# between the stages are (q_id, c_id, score).

_SCORED = "q_id long, c_id long, score double"


def _rank(scored: DataFrame, n: int, desc: bool = True) -> DataFrame:
    """Per-query top-``n`` of (q_id, c_id, score) rows by (score, c_id),
    numbered ``rn``."""
    key = F.desc("score") if desc else F.asc("score")
    w = Window.partitionBy("q_id").orderBy(key, F.asc("c_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= n)


def _scan_topn(rows: DataFrame, queries, score, n: int, desc: bool = True) -> DataFrame:
    """Partition-local, then global top-``n``: ``score(pdf)`` yields one
    ``(q_id, ids, scores)`` triple per query for each non-empty Arrow
    batch of ``rows``; the batch keeps each query's ``n`` best rows by
    (score, id) — ``np.lexsort``, the window's own key — and one
    :func:`_rank` window ranks the survivors. Θ(q·n) rows leave a
    partition instead of Θ(q·N). ``queries`` is the collected query
    set; when it is empty no row is scored and the result is empty."""
    if not len(queries):
        rows = rows.limit(0)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            frames = []
            for qid, ids, s in score(pdf):
                sel = np.lexsort((ids, -s if desc else s))[:n]
                frames.append(pd.DataFrame({"q_id": qid, "c_id": ids[sel], "score": s[sel]}))
            if frames:
                yield pd.concat(frames)

    return _rank(rows.mapInPandas(kernel, _SCORED), n, desc)


def _neighbors(ranked: DataFrame) -> DataFrame:
    """The public top-k row shape (query_id, neighbor_id, cosine_sim, rn)."""
    return ranked.select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        F.col("score").alias("cosine_sim"),
        "rn",
    )


def _exact_topk(
    cand: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """The exact tail of every pruned path: ``cand`` holds (q_id, c_id,
    c_vec); the query vectors broadcast, each candidate gets its exact
    6dp cosine and one window keeps the top ``k`` by (cosine_sim desc,
    neighbor_id). Returned similarities are exact; only recall is
    approximate."""
    cos_udf = make_cosine_udf()
    qv = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    scored = cand.join(F.broadcast(qv), "q_id").select(
        "q_id", "c_id", F.round(cos_udf(F.col("q_vec"), F.col("c_vec")), 6).alias("score")
    )
    return _neighbors(_rank(scored, k))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, neighbor_id, cosine_sim, rn) ranked by
    (round(sim,6) desc, neighbor_id) — the rounding makes the ranking
    reproducible across engines/float orderings. Self-matches excluded.

    Each partition emits only its local top-k per query (argpartition on
    the batch scores), so the final rank window is over a k·partitions
    bounded set — the corpus itself never shuffles.
    """
    qids, qmat, qnorm = _query_matrix(collect_query_rows(queries, id_col, vec_col))

    def score(pdf: pd.DataFrame):
        ids = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
        sims = _cosine_matrix(_vec_matrix(pdf.iloc[:, 1]), qmat, qnorm)
        for j, qid in enumerate(qids):
            keep = ids != qid  # exclude self-match
            yield qid, ids[keep], sims[keep, j]

    return _neighbors(_scan_topn(corpus.select(F.col(id_col), F.col(vec_col)), qids, score, k))


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(nbits, dim))


def auto_banding(n: int, bands: int = 3, target_bucket: int = 64, max_nbits: int = 63) -> int:
    """Size the hyperplane signature to the corpus: returns ``nbits``
    (= bands × bits_per_band) such that the EXPECTED per-band bucket
    holds ≤ ``target_bucket`` vectors under a uniform key spread —
    bits_per_band ≥ log2(N / target_bucket), the sizing rule a fixed
    operating point silently violates as the corpus grows (a 12-bit/
    3-band default saturates its [2, max_bucket] bucket cap at ≥128k
    vectors and drops candidates; measured in the round-3 256× probe).

    ``max_nbits`` caps the packed signature at 63 bits (int64). ``n``
    can come from an ``approx_count_distinct`` pre-pass or a known
    corpus size — callers that pass ``nbits=None`` to the LSH entry
    points get this rule applied automatically."""
    bpb = 1
    if n > target_bucket:
        bpb = max(1, math.ceil(math.log2(n / target_bucket)))
    bpb = max(1, min(bpb, max_nbits // bands))
    return bands * bpb


def _corpus_size(df: DataFrame, id_col: str) -> int:
    """Cheap corpus-size estimate for auto-sizing: approx_count_distinct
    over the id column only (column-pruned scan, HLL partial-merge —
    one pass, no exact count shuffle)."""
    return int(df.agg(F.approx_count_distinct(F.col(id_col)).alias("n")).collect()[0]["n"])


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR) — per-band Hamming distances for
    the map-side LSH candidate mask."""
    x = x.astype(np.uint64)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def make_lsh_signature_udf(planes: np.ndarray):
    """vector -> packed random-hyperplane signature (bit i = sign(v·pᵢ)),
    one matmul per Arrow batch. Deterministic given the plane matrix."""
    pt = planes.T.copy()
    weights = (np.uint64(1) << np.arange(planes.shape[0], dtype=np.uint64)).astype(np.int64)

    @F.pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        mat = _vec_matrix(vecs)
        bits = (mat @ pt) >= 0  # (n, nbits)
        return pd.Series((bits * weights[None, :]).sum(axis=1).astype(np.int64))

    return _sig


def lsh_signature(vec: Column, planes: np.ndarray) -> Column:
    """Expression form of the hyperplane signature (interpreted fold —
    test/composition use; bulk paths use :func:`make_lsh_signature_udf`)."""
    bits = []
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        bits.append(
            F.when(dot(vec, lit_plane) >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def _band_structs(sig_col: Column, bands: int, bits_per_band: int, probe: int = 0) -> Column:
    """Per-band (band, bkey) structs for a packed signature.

    ``probe=1`` adds radius-1 multi-probe: for each band, also emit every
    bkey with one bit flipped (bits_per_band extra keys per band). Used on
    the QUERY side only — the corpus stays at one key per band, so the
    index size is unchanged and only the (tiny) query fan-out grows. This
    lets bands be wider (fewer random collisions → less corpus scanned)
    while keeping recall: a true neighbor may disagree on one bit of a
    wide band and still be probed.
    """
    structs = []
    for j in range(bands):
        bkey = F.shiftrightunsigned(sig_col, j * bits_per_band).bitwiseAND(
            F.lit((1 << bits_per_band) - 1)
        )
        structs.append(F.struct(F.lit(j).alias("band"), bkey.alias("bkey")))
        if probe >= 1:
            structs.extend(
                F.struct(
                    F.lit(j).alias("band"),
                    bkey.bitwiseXOR(F.lit(1 << t)).alias("bkey"),
                )
                for t in range(bits_per_band)
            )
    return F.array(*structs)


def lsh_band_table(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 12,
    bands: int = 3,
    seed: int = 42,
    probe: int = 0,
    out_id: str = "c_id",
) -> DataFrame:
    """(id, band, bkey) rows for LSH blocking — the ANN *index*.

    Deterministic given (dim, nbits, seed): a vector's band keys depend on
    nothing but the fixed hyperplanes, NO global model or corpus pass —
    which is what makes this the streaming-friendly path (an index over a
    stream is just this table appended per micro-batch; see
    ``streaming.ann_index``). IVF by contrast needs fitted centroids.
    """
    planes = _hyperplanes(dim, nbits, seed)
    sig_udf = make_lsh_signature_udf(planes)
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(
            _band_structs(sig_udf(F.col(vec_col)), bands, nbits // bands, probe=probe)
        ).alias("bb"),
    ).select(out_id, "bb.band", "bb.bkey")


def rerank_candidates(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact-cosine verify + per-query top-k over a (q_id, c_id) candidate
    set whose vectors live in ``corpus``: the corpus joins by id so only
    candidate vectors are scored, then :func:`_exact_topk` ranks them."""
    vecs = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    return _exact_topk(cand.join(vecs, "c_id"), queries, id_col, vec_col, k)


def sq8_code_table(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """SQ8 scalar quantization (the faiss ``SQ8`` family): each vector
    compresses to int8-range codes plus one per-vector scale —
    ``code_i = floor(v_i * 127 / max|v| + 0.5)`` — a 4× byte cut
    against float32 (vs PQ's 16× at lower fidelity; SQ8 keeps
    per-dimension resolution). Pure JVM expressions (transform /
    array_max), no model fit and no corpus pass — like LSH, SQ8 codes
    are streaming-friendly: a new vector's codes depend on nothing but
    itself. Zero vectors quantize to all-zero codes (scale kept 0, so
    approximate scores are exactly 0). Deterministic: the same double
    arithmetic in any engine yields identical codes, which is what
    makes the SQL twins exact."""
    scale = F.array_max(F.transform(F.col(vec_col), lambda v: F.abs(v)))
    denom = F.when(F.col("sq_scale") == 0.0, F.lit(1.0)).otherwise(
        F.col("sq_scale")
    )
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("sq_scale", scale)
        .select(
            id_col,
            "sq_scale",
            F.transform(
                F.col(vec_col),
                lambda v: F.floor(v * 127.0 / denom + 0.5).cast("int"),
            ).alias("sq_codes"),
        )
    )


def sq8_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rerank: int = 100,
) -> DataFrame:
    """ANN over SQ8 codes + exact rerank: candidates rank by the
    decompressed dot product ``int_dot · scale_q · scale_c / 127²``
    (integer dot — exact in any engine; the scalar products follow the
    same IEEE operation order as the SQL twin, so the 6dp-rounded
    ranking keys are bit-identical), the top ``rerank`` per query are
    re-scored with exact cosine over the full vectors. SQ8 is a BYTE
    compression, not a pruning structure: the codes scan is still
    Θ(corpus) but at a quarter of the I/O, and at scale it composes
    with IVF cells exactly like PQ does (``ivfpq_index_query``) — the
    cells prune, the codes cut the scanned bytes, the rerank touches
    Θ(candidates) full vectors."""
    # the query codes ride in one struct column through the bounded collect
    qcodes = sq8_code_table(queries, id_col, vec_col).select(
        id_col, F.struct("sq_scale", "sq_codes").alias("sq")
    )
    qrows = collect_query_rows(qcodes, id_col, "sq")
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qmat = np.asarray([r[1].sq_codes for r in qrows], dtype=np.int64)
    qsc = np.asarray([r[1].sq_scale for r in qrows], dtype=np.float64)

    def score(pdf: pd.DataFrame):
        ids = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
        csc = pdf.iloc[:, 1].to_numpy(dtype=np.float64)
        dots = (_vec_matrix(pdf.iloc[:, 2], np.int64) @ qmat.T).astype(np.float64)
        # operation order pinned to the twin's
        # ((dot * q_scale) * c_scale) / 16129.0
        approx = np.round(((dots * qsc[None, :]) * csc[:, None]) / 16129.0, 6)
        for j, qid in enumerate(qids):
            keep = ids != qid
            yield qid, ids[keep], approx[keep, j]

    codes = sq8_code_table(corpus, id_col, vec_col)
    cand = _scan_topn(codes, qids, score, rerank).select("q_id", "c_id")
    return rerank_candidates(cand, corpus, queries, id_col, vec_col, k=k)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    nbits: int | None = None,
    bands: int = 3,
    seed: int = 42,
    probe: int = 0,
    n_vectors: int | None = None,
    target_bucket: int = 128,
) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH blocking, exact rerank.

    The nbits signature is split into ``bands`` sub-signatures; a corpus
    vector is a candidate if it matches the query on ≥1 band (standard
    OR-amplification: higher recall than one exact signature match). Only
    candidates get an exact cosine — at 1B vectors with 3×4-bit bands this
    scores ~3/16 of the corpus per query instead of all of it; more bits
    per band cut it further. The corpus side ships only (id, band, bkey)
    through the candidate join; vectors rejoin for the rerank.

    ``probe=1`` turns on radius-1 multi-probe on the query side (see
    :func:`_band_structs`): wider bands + probing beats narrow bands on
    the scan-fraction/recall frontier because random collisions fall
    geometrically with band width while a true neighbor is still caught
    when it misses a wide band by a single bit.

    With ``nbits=None`` (the default) the signature width is derived
    from the corpus size via :func:`auto_banding` (``n_vectors`` if
    given, else an ``approx_count_distinct`` pre-pass): here saturation
    is a COST cliff, not a recall cliff — fixed-width bands on a grown
    corpus collide ~N/2^bits vectors per bucket and the candidate scan
    degrades toward a full scan. Fixed reproducible operating points
    (oracle twins, the streaming index) pass ``nbits`` explicitly.

    Execution (round 4): the whole candidate filter + exact rerank runs
    MAP-SIDE inside one Arrow-batched kernel, like
    :func:`brute_force_topk` — the query band keys broadcast with the
    closure, each corpus partition computes its own signatures, masks
    rows whose per-band Hamming distance to a query key is ≤ ``probe``,
    and exact-scores only the masked rows, emitting its local top-k.
    The corpus never shuffles AT ALL (the previous shape shipped an
    (id, band, bkey) explode through a candidate join + dedup + two
    vector rejoins — three shuffles and two extra UDF stages whose fixed
    cost dominated the query at bench scale; semantics are identical:
    candidate iff some band agrees within ``probe`` bits, then exact
    cosine + (sim desc, id) top-k, same DuckDB twin). For a PERSISTED
    corpus index / very large query sets, the banded-join form lives on
    in ``streaming.ann_index.ann_query_over_index``.
    """
    if nbits is None:
        n = n_vectors if n_vectors is not None else _corpus_size(corpus, id_col)
        nbits = auto_banding(n, bands=bands, target_bucket=target_bucket)
    pt = _hyperplanes(dim, nbits, seed).T.copy()
    bpb = nbits // bands
    band_w = (np.uint64(1) << np.arange(bpb, dtype=np.uint64)).astype(np.float64)

    def band_keys(mat: np.ndarray) -> np.ndarray:  # (n, bands)
        bits = (mat @ pt) >= 0  # (n, nbits)
        return np.stack(
            [(bits[:, j * bpb : (j + 1) * bpb] @ band_w).astype(np.int64) for j in range(bands)],
            axis=1,
        )

    qids, qmat, qnorm = _query_matrix(collect_query_rows(queries, id_col, vec_col), dim)
    qkeys = band_keys(qmat)

    def score(pdf: pd.DataFrame):
        ids = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
        mat = _vec_matrix(pdf.iloc[:, 1])
        # candidate iff min over bands of hamming(ckey, qkey) <= probe
        ham = _popcount64(band_keys(mat)[:, None, :] ^ qkeys[None, :, :])  # (n, nq, bands)
        cand = (ham <= probe).any(axis=2)  # (n, nq)
        norms = _norms(mat)
        for qi, qid in enumerate(qids):
            idx = np.nonzero(cand[:, qi] & (ids != qid))[0]
            yield qid, ids[idx], np.round((mat[idx] @ qmat[qi]) / (norms[idx] * qnorm[qi]), 6)

    return _neighbors(_scan_topn(corpus.select(F.col(id_col), F.col(vec_col)), qids, score, k))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nbits: int | None = None,
    bands: int = 3,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 1000,
    n_vectors: int | None = None,
    target_bucket: int = 64,
    observation: Observation | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ threshold) via the same
    LSH blocking as :func:`lsh_ann_topk` (corpus self-join on bands).

    Mirrors the MinHash layout: one groupBy over (band, bkey) gathers
    bucket members and emits in-bucket pairs inline (no self-join), then
    vectors join back for the exact-cosine verify of the candidate set.
    Buckets larger than ``max_bucket`` are dropped (degenerate collapsed
    embeddings — e.g. zero vectors — would otherwise expand
    quadratically), same guard as the MinHash/winnowing paths.

    **The operating point is auto-sized by default** (round 4): with
    ``nbits=None`` the signature width is derived from the corpus size
    via :func:`auto_banding` — ``n_vectors`` if given, else one cheap
    ``approx_count_distinct`` pre-pass — so a growing corpus gets wider
    bands instead of silently saturating the ``[2, max_bucket]`` bucket
    cap and dropping candidates (the round-3 256× probe measured exactly
    that failure for a fixed 12-bit/3-band point at ≥128k vectors).
    Fixed reproducible points (e.g. oracle twins) pass ``nbits``
    explicitly.

    **Saturation is observable**: pass an ``Observation`` and the bucket
    stage reports ``dropped_buckets`` (buckets past the cap),
    ``dropped_ids`` (their total member mass) and ``max_bucket_size``
    after the query runs — a non-zero drop count is the loud signal to
    re-run with more bits (or a higher cap) instead of quietly losing
    recall. Caveat: if the query's OUTPUT is entirely empty, AQE's
    empty-relation propagation can eliminate the metrics node before the
    final stage (the observation then holds an empty row); the
    authoritative health check for an operating point is
    :func:`banding_saturation_report`, a standalone one-row diagnostic
    that cannot be pruned.
    """
    if nbits is None:
        n = n_vectors if n_vectors is not None else _corpus_size(df, id_col)
        nbits = auto_banding(n, bands=bands, target_bucket=target_bucket)
    planes = _hyperplanes(dim, nbits, seed)
    bits_per_band = nbits // bands
    sig_udf = make_lsh_signature_udf(planes)

    ex = df.select(
        F.col(id_col),
        F.explode(_band_structs(sig_udf(F.col(vec_col)), bands, bits_per_band)).alias("bb"),
    ).select(id_col, "bb.band", "bb.bkey")
    _, pairs = _bucket_pairs(ex, ["band", "bkey"], F.col(id_col), max_bucket, observation)
    cand = pairs.select("p.id_a", "p.id_b").dropDuplicates(["id_a", "id_b"])
    vecs = df.select(F.col(id_col), F.col(vec_col))
    cos_udf = make_cosine_udf()
    return (
        cand.join(vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")), "id_a")
        .join(vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")), "id_b")
        .withColumn("cosine_sim", F.round(cos_udf(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def banding_saturation_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int | None = None,
    bands: int = 3,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 1000,
    n_vectors: int | None = None,
    target_bucket: int = 64,
) -> DataFrame:
    """One-row health report for an LSH banding operating point — the
    authoritative "is this corpus saturating the bucket cap?" check.

    Output: (nbits, bands, n_buckets, dropped_buckets, dropped_ids,
    max_bucket_size). ``dropped_buckets > 0`` means
    :func:`embedding_near_dup_pairs` at the same point is discarding
    candidate mass and the signature needs more bits (the
    :func:`auto_banding` rule) or the cap needs raising. Run it as a
    pre-flight on a new corpus scale, or on a schedule over a growing
    one — it is one banding pass + a scalar aggregate, far cheaper than
    the dedup itself, and unlike the piggybacked ``Observation`` metrics
    it always produces its row (AQE cannot prune a scalar aggregate).
    """
    if nbits is None:
        n = n_vectors if n_vectors is not None else _corpus_size(df, id_col)
        nbits = auto_banding(n, bands=bands, target_bucket=target_bucket)
    planes = _hyperplanes(dim, nbits, seed)
    sig_udf = make_lsh_signature_udf(planes)
    ex = df.select(
        F.col(id_col),
        F.explode(_band_structs(sig_udf(F.col(vec_col)), bands, nbits // bands)).alias("bb"),
    ).select(id_col, "bb.band", "bb.bkey")
    sizes = ex.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("n"))
    over = F.col("n") > max_bucket
    return sizes.agg(
        F.lit(nbits).alias("nbits"),
        F.lit(bands).alias("bands"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("dropped_buckets"),
        F.sum(F.when(over, F.col("n")).otherwise(0)).cast("long").alias("dropped_ids"),
        F.max("n").alias("max_bucket_size"),
    )


# ------------------------------------------------------------------- IVF


def _kmeans_fit(mat: np.ndarray, n_cells: int, seed: int = 42, iters: int = 10) -> np.ndarray:
    """Deterministic Lloyd k-means (k-means++ init) on a driver-side
    sample. At corpus scale, fit on a bounded sample (centroid quality
    degrades gracefully); assignment stays fully distributed.

    All distances go through the ||x-c||² = x² - 2x·C + c² identity (one
    BLAS matmul) and the k-means++ scan keeps a running min-distance
    vector updated only against the newest centroid — the naive
    broadcast-subtract forms were ~50x slower on a 2000x64 sample.

    Round-5 Lloyd loop (round-4 verdict #3 — the masked update was
    minutes of driver time at the auto-sized n_cells≈√N → 4096 point):

    - the centroid UPDATE is a per-dimension ``np.bincount`` scatter —
      O(sample × dim) per iteration instead of the per-cell
      boolean-mask loop's O(n_cells × sample); the per-cell mean is the
      exact float64 sum/count over the same member rows;
    - the ASSIGNMENT distance matmul runs in float32 with in-place
      post-ops: this container's sgemm is 6.5x the dgemm throughput
      (52 vs 8 GFLOP/s, measured), the (sample × n_cells) distance
      matrix halves to manageable size, and argmin needs no x²_row term
      at all (constant per row). float32 can flip near-tied cell
      assignments vs float64 — irrelevant to an approximate index
      (recall tests are threshold-based) and still fully deterministic
      given (seed, sample), which is what the oracle-twin contract
      needs. Both changes measured: PLANS.md "Round-5 k-means fit";
      empty cells keep their previous centroid, as before."""
    rng = np.random.RandomState(seed)
    x2 = (mat**2).sum(axis=1)
    # k-means++ seeding with incremental nearest-centroid distances
    first = mat[rng.randint(len(mat))]
    d2 = x2 - 2.0 * (mat @ first) + (first**2).sum()
    centroids = [first]
    for _ in range(1, n_cells):
        np.maximum(d2, 0.0, out=d2)
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = mat[rng.choice(len(mat), p=probs)]
        centroids.append(nxt)
        d2 = np.minimum(d2, x2 - 2.0 * (mat @ nxt) + (nxt**2).sum())
    C = np.asarray(centroids)
    mat32 = mat.astype(np.float32)
    for _ in range(iters):
        C32 = C.astype(np.float32)
        s = mat32 @ C32.T
        s *= -2.0
        s += (C32**2).sum(axis=1)[None, :]
        assign = s.argmin(axis=1)
        cnt = np.bincount(assign, minlength=n_cells)
        sums = np.empty_like(C)
        for dim in range(mat.shape[1]):
            sums[:, dim] = np.bincount(assign, weights=mat[:, dim], minlength=n_cells)
        nz = cnt > 0
        C[nz] = sums[nz] / cnt[nz, None]
    return C


def _fit_sample(
    corpus: DataFrame, id_col: str, vec_col: str, sample_size: int, seed: int, sample_by: str
) -> np.ndarray:
    """The bounded driver-side sample every IVF and PQ fit runs on, as a
    float64 matrix: the first ``sample_size`` vectors by xxhash64(id,
    seed) (``sample_by="hash"``, a deterministic uniform draw) or by id
    (``"id"``, the order the DuckDB twins replay). Spark runs the
    orderBy+limit as TakeOrderedAndProject: one pass, no full sort."""
    if sample_by not in ("hash", "id"):
        raise ValueError(f"sample_by must be 'hash' or 'id': {sample_by}")
    order = (
        F.col(id_col).cast("long")
        if sample_by == "id"
        else F.xxhash64(F.col(id_col), F.lit(seed))
    )
    sample = (
        corpus.select(F.col(vec_col).alias("_v"), order.alias("_h"))
        .orderBy("_h")
        .limit(sample_size)
        .select("_v")
        .collect()
    )
    return _vec_matrix([r[0] for r in sample])


def _ivf_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int | None,
    sample_size: int,
    seed: int,
    sample_by: str,
) -> tuple[np.ndarray, np.ndarray]:
    """(centroids, fit sample) of an IVF model. ``n_cells=None`` sizes
    the model to the corpus: ``clamp(round(√N), 4, 4096)`` cells over the
    :func:`_corpus_size` estimate."""
    smat = _fit_sample(corpus, id_col, vec_col, sample_size, seed, sample_by)
    if n_cells is None:
        n = _corpus_size(corpus, id_col)
        n_cells = int(min(4096, max(4, round(math.sqrt(max(n, 1))))))
    return _kmeans_fit(smat, n_cells, seed), smat


def _nearest(C: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """Nearest row of ``C`` for each row of ``mat``: argmin ||x−c||² =
    argmin (c² − 2x·c), one matmul; ties go to the lowest index (numpy
    argmin's first hit, the rule the SQL twins spell ORDER BY d, id)."""
    return ((C**2).sum(axis=1)[None, :] - 2.0 * (mat @ C.T)).argmin(axis=1)


def _probe_cells(spark, C: np.ndarray, qrows, n_probe: int | None):
    """Each query's ``n_probe`` nearest cells (default ``max(4, n_cells
    // 16)``) by c² − 2C·q. The sort is stable: equidistant cells resolve
    to the LOWEST cell id, the tie rule the DuckDB twin spells as ORDER
    BY d, cell. Returns the (q_id, cell) rows and their frame."""
    if n_probe is None:
        n_probe = max(4, len(C) // 16)
    c2 = (C**2).sum(axis=1)
    rows = []
    for r in qrows:
        d = c2 - 2.0 * (C @ np.asarray(r[1], dtype=np.float64))
        rows.extend((int(r[0]), int(cell)) for cell in np.argsort(d, kind="stable")[:n_probe])
    return rows, spark.createDataFrame(rows, "q_id long, cell int")


def make_cell_assign_udf(centroids: np.ndarray):
    """vector -> nearest-centroid cell id (batch matmul per Arrow batch)."""

    @F.pandas_udf("int")
    def _cell(vecs: pd.Series) -> pd.Series:
        return pd.Series(_nearest(centroids, _vec_matrix(vecs)).astype(np.int32))

    return _cell


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int | None = None,
    n_probe: int | None = None,
    sample_size: int = 100_000,
    seed: int = 42,
    sample_by: str = "hash",
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells + multi-probe, exact rerank.

    The scale path complementary to hyperplane LSH: centroids are fit on a
    bounded driver-side sample, every corpus vector is assigned to its
    nearest cell in one map-only pass, and each query scores ONLY the
    vectors inside its ``n_probe`` nearest cells (~n_probe/n_cells of the
    corpus). Candidates get an exact cosine + rank-window top-k, so
    returned similarities are exact; only recall is approximate.

    **Operating point auto-sizes with the corpus** (round 4 — the same
    rule-executed-not-just-documented fix the LSH banding got): when
    ``n_cells`` is None it defaults to the IVF-Flat rule of thumb
    ``clamp(round(sqrt(N)), 4, 4096)`` from a cheap
    ``approx_count_distinct`` pre-pass, and ``n_probe`` defaults to
    ``max(4, n_cells // 16)`` — so a corpus that grows 100× no longer
    probes the same 16 cells and silently scans 100× more vectors per
    cell. Pass explicit values to pin a measured operating point (the
    registry/recall tests do).

    The centroid sample is hash-ORDERED by default, not ``limit()``:
    taking the first N rows in file order fits centroids to one slice of
    a time- or source-ordered corpus and silently degrades recall
    elsewhere. Sorting by xxhash64(id) and taking the top
    ``sample_size`` is a deterministic uniform draw, and Spark executes
    orderBy+limit as TakeOrderedAndProject (per-partition bounded heap +
    driver merge — one pass, no full sort/shuffle).
    ``sample_by="id"`` orders the sample by the id column instead — the
    TWINNING mode (round 5): an id-ordered sample is reproducible
    outside Spark without replicating xxhash64, which lets the DuckDB
    oracle re-run the identical fit and inline the resulting centroids
    as SQL literals (registry ``embedding_ann_ivf``). Use it only when
    ids are uncorrelated with content, or the sample bias warning above
    applies.
    """
    C, _ = _ivf_fit(corpus, id_col, vec_col, n_cells, sample_size, seed, sample_by)
    cell_udf = make_cell_assign_udf(C)
    cells = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"), cell_udf(F.col(vec_col)).alias("cell")
    )
    qrows = collect_query_rows(queries, id_col, vec_col)
    _, probes = _probe_cells(corpus.sparkSession, C, qrows, n_probe)
    cand = cells.join(F.broadcast(probes), "cell").filter(F.col("q_id") != F.col("c_id"))
    return _exact_topk(cand, queries, id_col, vec_col, k)


def embedding_dup_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nbits: int | None = None,
    bands: int = 3,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 1000,
    n_vectors: int | None = None,
    target_bucket: int = 64,
    observation: Observation | None = None,
) -> DataFrame:
    """Embedding near-duplicate CLUSTERS: connected components over the
    :func:`embedding_near_dup_pairs` graph, labeled (id, cluster) with
    cluster = the minimum member id — the same group-mode consumption
    shape the minhash/winnowing families gained in round 4 (consumers of
    semantic dedup want cluster labels to pick representatives from, not
    a quadratic pair list).

    Vectors with no qualifying near-dup edge are absent (they are their
    own singleton cluster by definition); components converge in
    O(component diameter) rounds — near-dup graphs are near-cliques.
    All parameters pass straight through to the pair stage, including
    the round-4 corpus-size auto-sizing and saturation observation.
    """
    pairs = embedding_near_dup_pairs(
        df,
        id_col,
        vec_col,
        threshold,
        nbits,
        bands,
        dim,
        seed,
        max_bucket,
        n_vectors,
        target_bucket,
        observation,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(F.col("node").alias(id_col), F.col("component").alias("cluster"))


# ----------------------------------------------------------------- PQ ANN


def pq_fit(mat: np.ndarray, m: int, ksub: int, seed: int = 42, iters: int = 10) -> np.ndarray:
    """Product-quantization codebooks: the vector space is split into
    ``m`` contiguous subspaces of ``dim/m`` dimensions and each gets its
    own seeded k-means codebook (``ksub`` centroids) — ``_kmeans_fit``
    per subspace on the same driver-side sample the IVF fit uses.
    Returns shape (m, ksub, dim//m). Deterministic given (seed, sample),
    which is what lets the DuckDB twin re-run the identical fit."""
    dsub = mat.shape[1] // m
    assert m * dsub == mat.shape[1], f"dim {mat.shape[1]} not divisible by m={m}"
    return np.stack(
        [
            _kmeans_fit(mat[:, j * dsub : (j + 1) * dsub], ksub, seed=seed + j, iters=iters)
            for j in range(m)
        ]
    )


def _pq_codes(cb: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """(n, m) int32 PQ codes: each row's nearest sub-centroid
    (:func:`_nearest`) in each of the ``m`` contiguous subspaces."""
    m, _, dsub = cb.shape
    codes = np.empty((len(mat), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = _nearest(cb[j], mat[:, j * dsub : (j + 1) * dsub])
    return codes


def _adc_lut(cb: np.ndarray, qv: np.ndarray) -> np.ndarray:
    """One query's (m, ksub) ADC term table — the asymmetric trick: the
    query stays exact, only the corpus side is quantized. Computed
    EXACTLY like the SQL twins: term(j, c) = c² − 2·(q_j · cb[j][c]) +
    q_j², float64 throughout."""
    m, ksub, dsub = cb.shape
    cb2 = (cb**2).sum(axis=2)
    lut = np.empty((m, ksub), dtype=np.float64)
    for j in range(m):
        qj = qv[j * dsub : (j + 1) * dsub]
        lut[j] = cb2[j] - 2.0 * (cb[j] @ qj) + (qj @ qj)
    return lut


def _adc(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """6dp-rounded asymmetric distance of each code row against one LUT,
    summed over subspaces in j order (the twins' ordered addition up to
    ulp, then rounded)."""
    return np.round(lut[np.arange(len(lut))[None, :], codes].sum(axis=1), 6)


def make_pq_encode_udf(codebooks: np.ndarray):
    """vector -> m uint8 codes (nearest sub-centroid per subspace; ties
    to the LOWEST code — numpy argmin's first-hit rule, the same rule
    the SQL twin spells as ORDER BY d, code). One batch matmul per
    subspace per Arrow batch."""

    @F.pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(_pq_codes(codebooks, _vec_matrix(vecs))))

    return _encode


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 50,
    sample_size: int = 100_000,
    seed: int = 42,
    sample_by: str = "hash",
) -> DataFrame:
    """Product-quantization ANN: asymmetric-distance (ADC) candidate
    scan over m-byte codes + exact cosine rerank of the top ``rerank``.

    THE BYTES LEVER of the ANN family: a dim-64 float32 vector (256 B)
    compresses to m=8 one-byte codes — 32x — so the candidate scan
    reads Θ(N·m) bytes instead of Θ(N·dim·4). IVF/LSH prune WHICH
    vectors are scanned; PQ shrinks WHAT a scanned vector costs, and at
    100 TB the two compose (IVF cells of PQ codes = classic IVF-PQ; the
    persisted-index layout in ``streaming/ivf_index.py`` would store
    codes instead of raw vectors). Recall is bounded by quantization
    error; returned similarities are EXACT (rerank recomputes cosine on
    the raw vectors of the candidate set only).

    Execution shape:
    - codebooks fit driver-side on a bounded sample (same contract as
      the IVF fit; ``sample_by="id"`` is the oracle-twinning order);
    - encoding is one map-only ``pandas_udf`` pass (m tiny matmuls per
      Arrow batch); at production scale the code table is the persisted
      artifact — 32x smaller than the corpus it indexes;
    - scoring broadcasts the per-query LUT (m × ksub distance terms —
      the asymmetric trick: the query side stays exact, only the corpus
      side is quantized) inside a ``mapInPandas`` closure; each
      partition emits its LOCAL top-``rerank`` per query by the GLOBAL
      ordering key (rounded ADC, id), so the global top-``rerank``
      survives partition-local pruning — the same TakeOrdered shape as
      ``brute_force_topk``, with Θ(q · rerank) rows leaving each
      partition instead of Θ(q · N);
    - exact rerank joins the candidate ids back to the raw vectors
      (Θ(q · rerank) row lookups) and window-ranks by
      (cosine_sim DESC, id).

    Returns (query_id, neighbor_id, cosine_sim, rn), rn ≤ k.
    """
    smat = _fit_sample(corpus, id_col, vec_col, sample_size, seed, sample_by)
    cb = pq_fit(smat, m, ksub, seed)
    enc = make_pq_encode_udf(cb)
    codes = corpus.select(F.col(id_col).alias("c_id"), enc(F.col(vec_col)).alias("codes"))
    luts = [
        (int(r[0]), _adc_lut(cb, np.asarray(r[1], dtype=np.float64)))
        for r in collect_query_rows(queries, id_col, vec_col)
    ]

    def score(pdf: pd.DataFrame):
        ids = pdf["c_id"].to_numpy()
        cmat = _vec_matrix(pdf["codes"], np.int64)
        for qid, lut in luts:
            keep = ids != qid  # self-match excluded BEFORE the cut
            yield qid, ids[keep], _adc(lut, cmat[keep])

    cand = _scan_topn(codes, luts, score, rerank, desc=False).select("q_id", "c_id")
    return rerank_candidates(cand, corpus, queries, id_col, vec_col, k)


def max_cosine_vs_set(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Semantic decontamination kernel: for every corpus vector, the
    max cosine against a (small, broadcastable) eval/benchmark set —
    the embedding-based member of the decontamination triad beside the
    exact n-gram overlap (``decontaminate_documents``) and BM25 lexical
    overlap (``decontaminate_bm25_documents``) paths. Catches the
    paraphrased/reworded leakage the lexical methods miss.

    Output: ``(id, max_cos, eval_id, contaminated)`` — one row per
    corpus vector (max_cos rounded to 6dp; eval_id = the LOWEST eval id
    attaining the max, so ties are deterministic; contaminated =
    max_cos >= threshold compared on the rounded value, so both engines
    flag identically).

    Scale shape: the eval matrix rides into the Arrow kernel closure
    (broadcast by construction — eval suites are thousands of rows, not
    corpus-scale), each partition computes one BLAS matmul per batch and
    emits exactly one slim row per corpus vector — MAP-ONLY end to end:
    no shuffle, no window, Θ(corpus) output. The same shape as
    ``brute_force_topk`` but with per-CORPUS-row (not per-query)
    reduction, which is what the decontamination direction needs.
    """
    kernel = _cosine_vs_set_kernel(eval_set, id_col, vec_col, threshold)
    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        kernel, _COS_VS_SET_SCHEMA
    )


_COS_VS_SET_SCHEMA = "id long, max_cos double, eval_id long, contaminated boolean"


def _cosine_vs_set_kernel(eval_set, id_col, vec_col, threshold):
    """Collect the eval matrix ONCE and return the Arrow batch kernel
    closed over it — shared by the batch entry point (one call) and
    :func:`streaming_decontaminate` (built at stream start, reused for
    every micro-batch, so the frozen-eval-set contract is structural,
    not per-batch luck). Raises loudly on an empty eval set: a filter
    that matches nothing would otherwise surface as an opaque numpy
    axis error mid-job (review catch, round 6)."""
    qrows = collect_query_rows(queries=eval_set, id_col=id_col, vec_col=vec_col,
                               what="eval set")
    if not qrows:
        raise ValueError("eval_set is empty: nothing to decontaminate against")
    qids, qmat, qnorm = _query_matrix(qrows)
    thr = float(threshold)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf.iloc[:, 0].to_numpy(dtype=np.int64)
            sims = _cosine_matrix(_vec_matrix(pdf.iloc[:, 1]), qmat, qnorm)
            mx = sims.max(axis=1)
            # lowest eval id among the argmax ties
            tie = np.where(sims == mx[:, None], qids[None, :], np.iinfo(np.int64).max)
            eid = tie.min(axis=1)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "max_cos": mx,
                    "eval_id": eid,
                    "contaminated": mx >= thr,
                }
            )

    return score


def streaming_decontaminate(
    vectors,
    eval_set: DataFrame,
    report_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
):
    """Decontamination AT INGEST: every arriving micro-batch of vectors
    is scored against the (static, broadcastable) eval set with
    :func:`max_cosine_vs_set` and the per-vector verdicts land under
    ``report_dir/batch=<id>`` — idempotent (the ``streaming.store``
    replay contract), so the report table
    is an append-only audit log of contamination per ingest batch and a
    replayed batch rewrites its own partition instead of duplicating.

    The eval matrix is collected ONCE at stream start (the kernel is
    prebuilt before ``foreachBatch`` and closed over — structurally
    impossible to re-collect per batch) — no per-batch join, no
    shuffle; the per-batch cost is one BLAS matmul per partition,
    Θ(batch) output.
    Union of all batch reports == the batch-mode kernel over the union
    of batches (tested), because the score of a vector depends only on
    itself and the frozen eval set.

    Returns the started ``StreamingQuery`` (availableNow trigger)."""

    kernel = _cosine_vs_set_kernel(eval_set, id_col, vec_col, threshold)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rep = batch_df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
            kernel, _COS_VS_SET_SCHEMA
        )
        write_batch(rep.coalesce(1), batch_id, report_dir)

    return drain(vectors, checkpoint_dir, process)
