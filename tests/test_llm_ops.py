"""Planted-fixture tests for the LLM-pipeline operators.

Since round 4 the minhash/simhash family (and hyperplane LSH since
round 3) also has exact DuckDB oracle twins — these planted tests
remain their SEMANTIC contract (capture guarantees, cluster
equivalences, degenerate inputs, operating-point auto-sizing), probing
behaviors a value-identical twin can't distinguish; only IVF's seeded
k-means and the sketch-byte aggregates are still pinned by tests alone.
"""

import pyspark.sql.functions as F
import pytest

from bearly_spark.operators import dedup as D
from bearly_spark.operators import multimodal as M
from bearly_spark.operators import similarity as S
from bearly_spark.sources.tables import load_table
from bearly_spark.streaming import ivf_index as IVF


@pytest.fixture(scope="module")
def planted_docs(spark):
    """12 docs: 0/1 identical; 2/3 near-dup (1 word of ~40 changed);
    4/5 moderately similar (~60%); rest unrelated."""
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "changed")
    moderate = " ".join(f"tok{i}" for i in range(24)) + " " + " ".join(
        f"other{i}" for i in range(16)
    )
    rows = [
        (0, base),
        (1, base),
        (2, base),
        (3, near),
        (4, base),
        (5, moderate),
    ] + [(i, " ".join(f"unrel{i}_{j}" for j in range(40))) for i in range(6, 12)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_planted(spark, planted_docs):
    kept = D.drop_exact_dups(planted_docs, "doc_id", ["text"])
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # 0,1,2,4 share identical text → only min id 0 survives of that group
    assert 0 in ids and not {1, 2, 4} & ids
    assert {3, 5} <= ids  # near-dups are NOT exact dups
    assert kept.count() == planted_docs.count() - 3


def test_minhash_finds_planted_near_dups(spark, planted_docs):
    pairs = D.minhash_dedup_pairs(
        planted_docs, "doc_id", "text", threshold=0.7
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # identical docs must be found (Jaccard 1.0)
    assert (0, 1) in found and (0, 2) in found and (0, 4) in found
    # the 1-word-changed pair has shingle-Jaccard ~0.85 → must be found
    assert any({a, b} == {2, 3} or {a, b} == {0, 3} for a, b in found)
    # unrelated docs must not pair
    assert not any(a >= 6 or b >= 6 for a, b in found)
    # verified jaccard values are exact (identical pair == 1.0)
    exact = {r.jaccard for r in pairs if (r.id_a, r.id_b) == (0, 1)}
    assert exact == {1.0}


def test_minhash_agrees_with_bruteforce_jaccard(spark, sf_dir):
    """On real fixture data: every LSH-found pair's verified Jaccard must
    match the brute-force pair computation (same doc subset)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    brute = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    # LSH candidates are verified with exact Jaccard → subset of brute force
    assert set(lsh) <= set(brute)
    # note: token-level vs shingle-level Jaccard differ; both are computed
    # on shingles here? jaccard_pairs uses unigram tokens, minhash uses
    # 3-gram shingles — so only containment on ids is asserted, not values.


def test_simhash_identical_and_near(spark, planted_docs):
    pairs = D.simhash_dedup_pairs(planted_docs, "doc_id", "text", max_hamming=3)
    found = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert found[(0, 1)] == 0  # identical text → identical signature
    assert not any(a >= 6 or b >= 6 for a, b in found)


def test_simhash_deterministic(spark, planted_docs):
    a = {r.doc_id: r.simhash for r in D.simhash(planted_docs, "doc_id", "text").collect()}
    b = {r.doc_id: r.simhash for r in D.simhash(planted_docs, "doc_id", "text").collect()}
    assert a == b
    assert a[0] == a[1] == a[2] == a[4]  # identical docs, identical sigs


def test_brute_force_topk_self_similarity(spark):
    """A query's nearest neighbor must be its planted duplicate with
    cosine 1.0; self-matches excluded."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(20)]
    vecs.append((100, vecs[0][1]))  # plant an exact duplicate of vec 0
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    top = S.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    assert top[0].neighbor_id == 100 and top[0].cosine_sim == 1.0
    assert all(r.neighbor_id != 0 for r in top)


def test_lsh_ann_recall_against_bruteforce(spark, sf_dir):
    """ANN results must be a subset of the brute-force candidate space and
    achieve reasonable top-10 recall on the fixture embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = S.brute_force_topk(emb, queries, k=10).collect()
    ann = S.lsh_ann_topk(emb, queries, k=10).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    ann_sets = {}
    for r in ann:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # every query answered
    assert set(ann_sets) == set(brute_sets)
    # ANN sims must be exact cosines (verified rerank): spot-check overlap
    recalls = [
        len(ann_sets[q] & brute_sets[q]) / len(brute_sets[q]) for q in brute_sets
    ]
    assert sum(recalls) / len(recalls) > 0.2, recalls  # blocking, not exhaustive


def test_embedding_near_dup_planted(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.normal(size=64)
    near = base + rng.normal(scale=0.01, size=64)  # cosine ~0.9999
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])] + [
        (i, [float(x) for x in rng.normal(size=64)]) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = S.embedding_near_dup_pairs(df, threshold=0.95).collect()
    assert any((r.id_a, r.id_b) == (0, 1) for r in pairs)
    assert all(r.cosine_sim >= 0.95 for r in pairs)


def test_multimodal_decode_real_bmp_path(spark, sf_dir):
    """Default decode is REAL now: planted 16x16 BMPs parse through the
    pure-Python header+pixel decoder; stats replay exactly from the
    known byte-cycling fill."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    planted = M.plant_bmp_payload(docs)
    rows = M.decode_features(planted).collect()
    assert len(rows) == 50
    assert all(len(r.feature) == M.N_FEATURES for r in rows)
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for r in rows:
        tb = texts[r.doc_id].encode("utf-8")
        body = (tb * (768 // len(tb) + 1))[:768]
        assert r.feature[0] == 16.0 and r.feature[1] == 16.0
        assert r.feature[2] == float(sum(body[2::3]))  # R = in-file byte 2
        assert r.feature[4] == float(sum(body[0::3]))  # B = in-file byte 0
        assert r.feature[5] == float(sum(b * b for b in body))
        assert r.payload_bytes == 54 + 768 and r.modality == "image/bmp"


def test_multimodal_undecodable_raises_unless_fake_opt_in(spark, sf_dir):
    """Text payloads are not decodable media: the default path must fail
    loudly; on_error='fake' is the explicit plumbing opt-in and emits the
    deterministic md5 stand-in."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    with pytest.raises(Exception, match="BMP|decode"):
        M.decode_features(M.attach_payload(docs)).collect()
    rows = M.decode_features(M.attach_payload(docs), on_error="fake").collect()
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.feature)
    again = {
        r.doc_id: r.feature
        for r in M.decode_features(M.attach_payload(docs), on_error="fake").collect()
    }
    assert all(again[r.doc_id] == r.feature for r in rows)


def test_bmp_decoder_padding_and_topdown(spark):
    """Hand-built BMPs pin the byte-level contract: 4-byte row padding is
    EXCLUDED from stats (2x2 rows pad 6->8 bytes) and a negative
    (top-down) height decodes to the same order-invariant sums."""
    import struct

    def bmp(width, height, rows):  # rows: list of row-pixel-bytes (no pad)
        row_bytes = (width * 3 + 3) // 4 * 4
        body = b"".join(r + b"\xff" * (row_bytes - len(r)) for r in rows)
        return (
            b"BM"
            + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 0, 0, 0, 0
            )
            + body
        )

    # pixels (B,G,R): row0 = (1,2,3),(4,5,6); row1 = (7,8,9),(10,11,12)
    r0 = bytes([1, 2, 3, 4, 5, 6])
    r1 = bytes([7, 8, 9, 10, 11, 12])
    up = M.bmp_image_features(bmp(2, 2, [r0, r1]))
    down = M.bmp_image_features(bmp(2, -2, [r1, r0]))
    assert up == down
    # padding 0xff bytes must not leak into any sum
    assert up[2] == 3 + 6 + 9 + 12 and up[3] == 2 + 5 + 8 + 11 and up[4] == 1 + 4 + 7 + 10
    assert up[5] == sum(b * b for b in r0 + r1)
    assert up[6] == 3 + 6 + 9 + 12  # max channel is R everywhere
    assert up[:2] == [2.0, 2.0] and up[7] == 4.0
    with pytest.raises(ValueError):
        M.bmp_image_features(b"NOTABMP" + b"\x00" * 100)


def test_ivf_ann_recall_against_bruteforce(spark, sf_dir):
    """IVF results: exact sims, every query answered, recall above the
    probe-fraction floor on the fixture embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = S.brute_force_topk(emb, queries, k=10).collect()
    ivf = S.ivf_ann_topk(emb, queries, k=10, n_cells=16, n_probe=4).collect()
    brute_sets, brute_sims = {}, {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        brute_sims[(r.query_id, r.neighbor_id)] = r.cosine_sim
    ivf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        # rerank is exact: any overlap with brute force must agree on sim
        if (r.query_id, r.neighbor_id) in brute_sims:
            assert r.cosine_sim == brute_sims[(r.query_id, r.neighbor_id)]
    assert set(ivf_sets) == set(brute_sets)
    recalls = [len(ivf_sets[q] & brute_sets[q]) / len(brute_sets[q]) for q in brute_sets]
    assert sum(recalls) / len(recalls) > 0.2, recalls


def test_ivf_centroid_sample_unbiased_on_clustered_order(spark):
    """Regression for the limit()-sampled centroid fit: a corpus stored in
    CLUSTER ORDER (all of cluster 0 first, etc. — the layout of any time-
    or source-ordered 100 TB table) must still get centroids covering all
    clusters when the fit sample is smaller than the first cluster. With
    first-N sampling every centroid landed in cluster 0 and recall for
    out-of-cluster queries collapsed; the hash-ordered sample keeps it
    high."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(4, 16)) * 5.0
    rows = []
    vid = 0
    for c in range(4):  # cluster-ordered: ids 0..299 are cluster 0, etc.
        for _ in range(300):
            v = centers[c] + rng.normal(scale=0.3, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    # one query per cluster, from the corpus itself
    queries = df.filter(F.col("vec_id").isin([0, 300, 600, 900]))
    brute = S.brute_force_topk(df, queries, k=10).collect()
    # sample_size=200 < first cluster's 300 rows: first-N sampling would
    # see ONLY cluster 0 here
    ivf = S.ivf_ann_topk(
        df, queries, k=10, n_cells=8, n_probe=2, sample_size=200
    ).collect()
    brute_sets, ivf_sets = {}, {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in ivf:
        ivf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(ivf_sets) == set(brute_sets)
    recalls = [len(ivf_sets[q] & brute_sets[q]) / len(brute_sets[q]) for q in brute_sets]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_winnow_fingerprints_shared_substring(spark):
    """Two docs sharing one long passage (but dissimilar overall) must share
    fingerprints; unrelated docs must not pair."""
    passage = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, passage + " " + " ".join(f"alpha{i}" for i in range(30))),
        (1, " ".join(f"beta{i}" for i in range(30)) + " " + passage),
        (2, " ".join(f"gamma{i}" for i in range(40))),
        (3, " ".join(f"delta{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.shared_prints
             for r in D.winnow_overlap_pairs(df, "doc_id", "text", min_shared=3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 3
    assert not any({a, b} & {2, 3} for a, b in pairs)


def test_winnow_fingerprints_deterministic(spark):
    df = spark.createDataFrame([(0, "some repeated text for determinism checks")], ["doc_id", "text"])
    a = D.winnow_fingerprints(df, "doc_id", "text").collect()[0].fingerprints
    b = D.winnow_fingerprints(df, "doc_id", "text").collect()[0].fingerprints
    assert sorted(a) == sorted(b) and len(a) > 0


def test_connected_components_chain_and_cliques(spark):
    """A~B, B~C must land in ONE component without an A~C edge (the
    transitivity pairwise dedup lacks); disjoint pairs stay separate;
    min-id labeling is deterministic."""
    from bearly_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31), (31, 32), (32, 33), (33, 34)],
        "src long, dst long",
    )
    got = {
        r.node: r.component for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        30: 30, 31: 30, 32: 30, 33: 30, 34: 30,
    }


def test_dedup_components_consistent_with_pairs(spark, sf_dir):
    """End-to-end on the fixture: both endpoints of every minhash pair
    land in the SAME component, the component label is the min member id,
    and multi-member component membership covers every paired doc."""
    from bearly_spark.operators.dedup import connected_components, minhash_dedup_pairs
    from bearly_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=72, bands=24, threshold=0.5
    )
    pair_rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert pair_rows, "fixture should contain near-dup pairs at 0.5"

    comp = {
        r.node: r.component
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    for a, b in pair_rows:
        assert comp[a] == comp[b], (a, b)
    # label = min member id per component
    import collections

    members = collections.defaultdict(list)
    for node, c in comp.items():
        members[c].append(node)
    for c, nodes in members.items():
        assert c == min(nodes)
    # the registry query reports exactly the multi-member components
    got = {
        r.component_id: r.n_members
        for r in __import__("bearly_spark.registry", fromlist=["QUERIES"])
        .QUERIES["dedup_components"](spark, sf_dir)
        .collect()
    }
    want = {c: len(set(ns)) for c, ns in members.items() if len(set(ns)) >= 2}
    assert got == want


def test_wav_decoder_chunks_and_sniff(spark):
    """Hand-built WAVs pin the RIFF contract: an extra odd-size chunk
    before fmt/data is skipped with even-padding, int16 samples decode
    signed little-endian, and the magic-sniffing default dispatches
    BMP vs WAV vs garbage."""
    import struct

    def wav(samples, extra_chunk=False):
        data = b"".join(struct.pack("<h", s) for s in samples)
        chunks = b""
        if extra_chunk:  # 3-byte chunk → 1 pad byte per RIFF spec
            chunks += b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        chunks += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        chunks += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    samples = [0, 1, -1, 32767, -32768, 100]
    for extra in (False, True):
        f = M.wav_audio_features(wav(samples, extra_chunk=extra))
        assert f[:4] == [44100.0, 2.0, 16.0, 6.0]
        assert f[4] == float(sum(samples))
        assert f[5] == float(sum(s * s for s in samples))
        assert (f[6], f[7]) == (-32768.0, 32767.0)
    # sniffing default: BMP magic → image path, RIFF → audio, else raise
    assert M.sniff_features(wav(samples))[0] == 44100.0
    with pytest.raises(ValueError, match="no known magic"):
        M.sniff_features(b"GIF89a" + b"\x00" * 60)
    with pytest.raises(ValueError, match="16-bit PCM"):
        bad = wav(samples).replace(
            struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16),
            struct.pack("<IHHIIHH", 16, 3, 2, 44100, 176400, 4, 32),
        )
        M.wav_audio_features(bad)


def test_query_collect_contract_guard(spark):
    """The ANN probe paths broadcast the query set from the driver — an
    oversized query frame must refuse loudly (pointing at the index
    forms) instead of silently OOMing the driver, and the guard's LIMIT
    bounds the collect itself."""
    qs = spark.range(0, 11).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.5)] * 4).alias("embedding"),
    )
    with pytest.raises(ValueError, match="driver-collect contract"):
        S.collect_query_rows(qs, "vec_id", "embedding", max_queries=10)
    rows = S.collect_query_rows(qs, "vec_id", "embedding", max_queries=11)
    assert len(rows) == 11


def _tiny_vectors(spark, n):
    return spark.range(0, n).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * j + 1).cast("double") for j in range(4)]).alias("embedding"),
    )


@pytest.mark.parametrize(
    "fit",
    [
        lambda emb, d: S.ivf_ann_topk(emb, emb, n_cells=4, sample_by="ID"),
        lambda emb, d: S.pq_ann_topk(emb, emb, m=2, ksub=4, sample_by="ID"),
        lambda emb, d: IVF.build_ivf_index(emb, d, n_cells=4, sample_by="ID"),
        lambda emb, d: IVF.build_ivfpq_index(emb, d, n_cells=4, m=2, ksub=4, sample_by="ID"),
    ],
    ids=["ivf_ann_topk", "pq_ann_topk", "build_ivf_index", "build_ivfpq_index"],
)
def test_fit_entry_points_reject_unknown_sample_by(spark, tmp_path, fit):
    """Every IVF/PQ fit draws its sample through one stage, which accepts
    only 'hash' and 'id' — a typo must raise, not silently fit the hash
    sample."""
    with pytest.raises(ValueError, match="sample_by must be 'hash' or 'id'"):
        fit(_tiny_vectors(spark, 32), str(tmp_path / "index"))


@pytest.mark.parametrize(
    "topk",
    [
        lambda emb, q: S.brute_force_topk(emb, q, k=3),
        lambda emb, q: S.lsh_ann_topk(emb, q, k=3, dim=4, nbits=6),
        lambda emb, q: S.ivf_ann_topk(emb, q, k=3, n_cells=4, sample_by="id"),
        lambda emb, q: S.pq_ann_topk(emb, q, k=3, m=2, ksub=4, sample_by="id"),
        lambda emb, q: S.sq8_ann_topk(emb, q, k=3),
    ],
    ids=["brute_force_topk", "lsh_ann_topk", "ivf_ann_topk", "pq_ann_topk", "sq8_ann_topk"],
)
def test_topk_paths_return_empty_for_no_queries(spark, topk):
    """An empty query frame yields an empty result with the usual
    (query_id, neighbor_id, cosine_sim, rn) schema on every top-k path,
    both while the query is built and when it runs."""
    emb = _tiny_vectors(spark, 32)
    out = topk(emb, emb.filter(F.col("vec_id") < 0))
    assert out.columns == ["query_id", "neighbor_id", "cosine_sim", "rn"]
    assert out.collect() == []


def test_probe_paths_share_the_driver_collect_bound(spark, monkeypatch):
    """SQ8 collects its query codes under the same bound as every other
    probe path, read at call time: lowering ``MAX_DRIVER_QUERIES`` makes
    ``sq8_ann_topk`` and ``ivf_ann_topk`` refuse the same query frame
    with the same error."""
    emb = _tiny_vectors(spark, 32)
    queries = emb.filter(F.col("vec_id") < 3)
    monkeypatch.setattr(S, "MAX_DRIVER_QUERIES", 2)
    with pytest.raises(ValueError, match="driver-collect contract") as sq8:
        S.sq8_ann_topk(emb, queries)
    with pytest.raises(ValueError, match="driver-collect contract") as ivf:
        S.ivf_ann_topk(emb, queries, n_cells=4)
    assert str(sq8.value) == str(ivf.value)


def test_decode_features_custom_decoder_plumbing(spark):
    """Any bytes -> list[float] callable slots into the decode stage —
    the production integration point (PIL/torchvision/ffmpeg) exercised
    with an in-container decoder."""
    docs = spark.createDataFrame([(1, "abc"), (2, "defgh")], ["doc_id", "text"])
    out = M.decode_features(
        M.attach_payload(docs), decoder=lambda b: [float(len(b))] * M.N_FEATURES
    ).collect()
    got = {r.doc_id: r.feature for r in out}
    assert got[1] == [3.0] * M.N_FEATURES and got[2] == [5.0] * M.N_FEATURES


def test_decode_features_pil_real_decoder(spark):
    """Real image decode path — runs wherever Pillow is installed (this
    container has no codec libs, so it skips here; the path is the same
    mapInPandas plumbing as the tested fake/custom decoders)."""
    import pytest

    PIL = pytest.importorskip("PIL")
    import io

    from PIL import Image
    import pyspark.sql.functions as F

    buf = io.BytesIO()
    Image.new("RGB", (8, 8), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary").select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/png").alias("modality"),
            F.lit(len(png)).alias("payload_bytes"),
            F.md5("payload").alias("content_md5"),
        ).alias("meta"),
    )
    row = M.decode_features(df, decoder=M.pil_image_features).collect()[0]
    # solid red: R mean 1.0, G/B mean 0, zero std
    assert abs(row.feature[0] - 1.0) < 1e-9 and abs(row.feature[1]) < 1e-9


def test_star_contraction_long_chain_few_rounds(spark):
    """A 600-node path graph: label propagation needs O(diameter)=599
    rounds (it would hit max_iterations), star contraction is O(log n) —
    must fully converge to one component well inside 30 alternating
    rounds."""
    from bearly_spark.operators.dedup import connected_components_star

    n = 600
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components_star(edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_auto_banding_rule():
    """bits/band = ceil(log2(N / target_bucket)), floored at 1 bit and
    capped so the packed signature fits an int64."""
    assert S.auto_banding(10, bands=3, target_bucket=64) == 3  # tiny corpus → 1 bit/band
    assert S.auto_banding(64 * 1024, bands=3, target_bucket=64) == 30  # log2(1024)=10
    assert S.auto_banding(256_000, bands=3, target_bucket=64) == 36  # ceil(11.97)=12
    assert S.auto_banding(2**80, bands=3, target_bucket=64) == 63  # int64 cap
    assert S.auto_banding(0, bands=8, target_bucket=128) == 8  # degenerate corpus


def test_near_dup_saturation_metric_and_autosize(spark):
    """The round-3 256× probe showed a FIXED LSH operating point silently
    saturating its bucket cap as the corpus grows. Round-4 contract: a
    saturated run must be LOUD (Observation reports dropped buckets),
    and the auto-sized default must find the planted neighbor with zero
    drops on the same corpus."""
    import numpy as np
    from pyspark.sql import Observation

    rng = np.random.RandomState(5)
    n = 4000
    mat = rng.normal(size=(n, 16))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    base = rng.normal(size=16)
    near = base + rng.normal(scale=0.005, size=16)  # cosine ~0.99999
    rows.append((n, [float(x) for x in base]))
    rows.append((n + 1, [float(x) for x in near]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)

    # Deliberately-undersized fixed point: 1-bit bands put ~2000 ids in
    # every bucket — all past the cap, so every candidate (including the
    # planted pair) is dropped. The standalone report must say so (the
    # piggybacked Observation is AQE-prunable exactly when the output is
    # fully empty — this is why the report exists).
    report = S.banding_saturation_report(
        df, nbits=3, bands=3, dim=16, max_bucket=100
    ).collect()[0]
    assert report.dropped_buckets > 0  # loud, not silent
    assert report.max_bucket_size > 100
    fixed = S.embedding_near_dup_pairs(
        df, threshold=0.95, nbits=3, bands=3, dim=16, max_bucket=100
    )
    fixed_pairs = {(r.id_a, r.id_b) for r in fixed.collect()}
    assert (n, n + 1) not in fixed_pairs  # recall genuinely lost

    # Auto-sized default: bits/band grows with N → buckets within cap,
    # planted neighbor found, zero drops.
    obs_auto = Observation("lsh_sat_auto")
    auto = S.embedding_near_dup_pairs(
        df, threshold=0.95, dim=16, observation=obs_auto
    )
    auto_pairs = {(r.id_a, r.id_b) for r in auto.collect()}
    assert (n, n + 1) in auto_pairs
    assert obs_auto.get["dropped_buckets"] == 0


def test_minhash_simhash_saturation_observed(spark):
    """The banded dedup paths (MinHash, SimHash, winnowing, block hashes)
    expose the same loud saturation metric under partial saturation (the
    realistic regime: SOME buckets past the cap while others still yield
    pairs — total pruning is covered by the standalone
    banding_saturation_report above): a 4-way near-identical cluster
    overflows a 2-sized cap (its pairs are lost and REPORTED), while an
    independent near-dup pair in a small bucket still comes out."""
    from pyspark.sql import Observation

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, base.replace(f"tok{10 + i}", f"var{i}")) for i in range(4)]
    other = " ".join(f"zzz{i}" for i in range(40))
    rows += [(20, other), (21, other.replace("zzz7", "changed"))]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    obs = Observation("minhash_sat")
    got = D.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.8, max_bucket=2, observation=obs
    ).collect()
    assert any((r.id_a, r.id_b) == (20, 21) for r in got)  # small bucket survives
    assert obs.get["dropped_buckets"] > 0  # 4-cluster overflow is loud

    # simhash is order-invariant, so three PERMUTATIONS of one token bag
    # are distinct contents with identical signatures — every chunk
    # bucket holds all three, past the 2-cap, and must be reported while
    # the independent (20, 21) pair still comes out of its 2-bucket.
    toks = [f"tok{i}" for i in range(40)]
    perm_rows = [
        (30, " ".join(toks)),
        (31, " ".join(reversed(toks))),
        (32, " ".join(toks[20:] + toks[:20])),
        (20, other),
        (21, other.replace("zzz7", "changed")),
    ]
    perm_docs = spark.createDataFrame(perm_rows, ["doc_id", "text"])
    obs2 = Observation("simhash_sat")
    got2 = D.simhash_dedup_pairs(
        perm_docs, "doc_id", "text", max_hamming=10, max_bucket=2, observation=obs2
    ).collect()
    assert any((r.id_a, r.id_b) == (20, 21) for r in got2)
    assert obs2.get["dropped_buckets"] > 0

    # winnowing: four distinct docs around one shared passage put its
    # prints in postings of 4 fingerprint groups, past a 2-cap, while an
    # independent pair sharing another passage comes out of its 2-posting
    passage = "the quick brown fox jumps over the lazy dog by the river bank " * 2
    wrows = [(40 + i, passage + f"tail number {i} " * 3) for i in range(4)]
    other_passage = "an entirely different passage about rolling hash fingerprints " * 2
    wrows += [(50, other_passage + "end one"), (51, other_passage + "end two")]
    obs3 = Observation("winnow_sat")
    got3 = D.winnow_overlap_pairs(
        spark.createDataFrame(wrows, ["doc_id", "text"]),
        "doc_id", "text", min_shared=3, max_posting=2, observation=obs3,
    ).collect()
    assert any((r.id_a, r.id_b) == (50, 51) for r in got3)
    assert not any(r.id_a >= 40 and r.id_b < 50 for r in got3)
    assert obs3.get["dropped_buckets"] > 0

    # block hashes: the boilerplate block shared by 12 payloads overflows
    # the 8-cap (1 bucket, 12 ids), while an aligned tail edit still pairs
    base = bytes(range(256))
    brows = [(1, base), (2, base[:-8] + b"ZZZZZZZZ")]
    brows += [(100 + i, b"SAMEBLK!" + bytes([i]) * 8) for i in range(12)]
    obs4 = Observation("binary_sat")
    got4 = M.binary_near_dup_pairs(
        spark.createDataFrame(brows, "doc_id long, payload binary"),
        block_bytes=8, threshold=0.5, max_posting=8, observation=obs4,
    ).collect()
    assert [(r.id_a, r.id_b) for r in got4] == [(1, 2)]
    assert obs4.get["dropped_buckets"] >= 1
    assert obs4.get["dropped_ids"] >= 12


def _clusters_from_pairs(pairs_df, all_pairs_cols=("id_a", "id_b")):
    """Reference clustering: connected components over pair-mode edges."""
    comp = D.connected_components(pairs_df, *all_pairs_cols)
    return {r.node: r.component for r in comp.collect()}


def test_winnow_cluster_mode_equals_pair_mode_components(spark):
    """Group-mode clusters must equal connected components over the
    pair-mode output — on a corpus with heavy exact-duplicate mass (the
    regime cluster mode exists for)."""
    base = "the quick brown fox jumps over the lazy dog again and again in the park"
    shared = base + " with a shared passage that is long enough to fingerprint"
    rows = []
    for c in range(6):  # 6 exact copies of each of 3 related docs
        rows.append((100 + c, shared))
        rows.append((200 + c, shared + " plus unique tail " + "x" * c))
        rows.append((300 + c, "totally different content block " * 4 + str(c)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = D.winnow_overlap_pairs(docs, "doc_id", "text", min_shared=4)
    expect = _clusters_from_pairs(pairs)
    got = {
        r.doc_id: r.cluster
        for r in D.winnow_dup_clusters(docs, "doc_id", "text", min_shared=4).collect()
    }
    assert got == expect and len(got) > 0


def test_minhash_cluster_mode_equals_pair_mode_components(spark):
    toks = " ".join(f"tok{i}" for i in range(40))
    rows = []
    for c in range(5):  # exact copies + a near variant chain
        rows.append((100 + c, toks))
        rows.append((200 + c, toks.replace("tok7", "changed")))
        rows.append((300 + c, " ".join(f"unrel{c}_{j}" for j in range(40))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    expect = _clusters_from_pairs(pairs)
    got = {
        r.doc_id: r.cluster
        for r in D.minhash_dup_clusters(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert got == expect and len(got) > 0
    # the copies of the base + the near variant fuse into ONE cluster
    assert len({got[k] for k in got if k < 300}) == 1


def test_minhash_null_text_never_pairs_empty_string_still_does(spark):
    """Round-4 ADVICE (dedup.py within-group branch): null-text docs have
    no content to compare and must not pair — neither within their group
    nor across groups — restoring the pre-collapse semantics where a null
    shingle array produced a filtered null Jaccard. Empty-STRING docs are
    real (empty) content and pair as identical, as they always did.
    NULL is its own content group: a real text equal to an in-band null
    sentinel ('\\x00null') pairs with its copy, never with the nulls."""
    rows = [
        (0, None),
        (1, None),           # second null: would same-group-pair if not excluded
        (2, ""),
        (3, ""),             # empty strings: identical single-shingle content
        (4, "   "),          # whitespace-only == empty token list, same shingle
        (5, "alpha beta gamma delta"),
        (6, "alpha beta gamma delta"),
        (7, "\x00null"),     # real text equal to the old null sentinel
        (8, "\x00null"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in
             D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    assert not any(0 in p or 1 in p for p in pairs), pairs  # nulls never pair
    assert (2, 3) in pairs and (2, 4) in pairs and (3, 4) in pairs
    assert (5, 6) in pairs
    assert (7, 8) in pairs

    clusters = {r.doc_id: r.cluster for r in
                D.minhash_dup_clusters(docs, "doc_id", "text", threshold=0.8).collect()}
    assert 0 not in clusters and 1 not in clusters
    assert clusters[2] == clusters[3] == clusters[4] == 2
    assert clusters[5] == clusters[6] == 5
    assert clusters[7] == clusters[8] == 7

    # simhash's documented contract differs: null and empty both hash to
    # signature 0 — trivially identical empty content, Hamming 0
    spairs = {(r.id_a, r.id_b) for r in
              D.simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert (0, 1) in spairs and (0, 2) in spairs and (2, 3) in spairs
    assert (7, 8) in spairs
    assert not {(0, 7), (0, 8), (1, 7), (1, 8)} & spairs


def test_bm25_planted_relevance_ordering(spark):
    """BM25 semantics on a planted corpus: a doc saturated with the query
    terms outranks a doc with one mention, which outranks docs with none
    (absent from results entirely); rarer terms weigh more than common
    ones at equal tf."""
    from bearly_spark.operators.text import bm25_topk

    filler = " ".join(f"w{i}" for i in range(30))
    rows = [
        (0, "spark hash " * 5 + filler),   # both terms, high tf
        (1, "spark " + filler),            # one mention of the common term
        (2, filler),                       # no query terms
        (3, "hash " + filler),             # one mention of the rarer term
    ] + [(i, "spark " + filler) for i in range(4, 10)]  # make 'spark' common
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(docs, "doc_id", "text", "spark hash", k=10).collect()
    ranked = [r.doc_id for r in sorted(got, key=lambda r: r.rank)]
    assert ranked[0] == 0                      # saturated doc first
    assert 2 not in ranked                     # no-term doc never scored
    # 'hash' appears in 2/10 docs, 'spark' in 8/10 -> idf(hash) > idf(spark)
    assert ranked.index(3) < ranked.index(1)
    # ranks are 1..n dense and scores non-increasing
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == list(
        range(1, len(got) + 1)
    )
    scores = [r.score for r in sorted(got, key=lambda r: r.rank)]
    assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_bm25_multi_equals_single_per_query(spark, sf_dir):
    """Round 5: scoring an eval suite through ``bm25_topk_multi`` must
    reproduce the single-query path exactly, query by query — the multi
    path shares tf/df/corpus scalars across queries but every per-query
    score and rank is the same arithmetic."""
    from bearly_spark.operators.text import bm25_topk, bm25_topk_multi

    docs = load_table(spark, sf_dir, "documents")
    # query 1 shares terms with query 0 — exercises the shared tf/df
    # stream actually being reused across queries, with real hits
    suite = [(0, "hash join spark window"), (1, "spark window")]
    queries = spark.createDataFrame(suite, "query_id int, query string")
    multi = bm25_topk_multi(docs, "doc_id", "text", queries, k=10).collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r.query_id, set()).add((r.doc_id, r.score, r.rank))
    for qid, q in suite:
        single = {
            (r.doc_id, r.score, r.rank)
            for r in bm25_topk(docs, "doc_id", "text", q, k=10).collect()
        }
        assert by_q.get(qid, set()) == single, f"query {qid} diverges"


def test_ivf_auto_sizes_cells_from_corpus(spark, sf_dir):
    """Round-4: IVF executes its cells≈√N rule instead of documenting it
    — with no explicit operating point, a 500-vector corpus gets ~22
    cells / 4 probes and the planted-quality contract still holds (every
    query's exact top-1 neighbor is recalled at this scan fraction)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    got = S.ivf_ann_topk(emb, queries, k=10).collect()  # all defaults
    assert {r.query_id for r in got} == {0, 1, 2}
    brute = S.brute_force_topk(emb, queries, k=1).collect()
    top1 = {(r.query_id, r.neighbor_id) for r in brute}
    got_pairs = {(r.query_id, r.neighbor_id) for r in got}
    # auto-sized probe set must at least recall each query's true top-1
    # ... allowing the usual ANN miss on at most one query
    assert sum(1 for p in top1 if p in got_pairs) >= len(top1) - 1


def test_binary_near_dup_planted_semantics(spark):
    """Block-hash near-dup over binary payloads: aligned tail edits
    pair with high Jaccard; an alignment-shifting insertion breaks all
    downstream blocks (documented fixed-chunking semantics); exact
    copies emit 1.0 within-group pairs that bypass discovery; a
    boilerplate block shared by many payloads is capped out of the
    inverted index; null/empty payloads never pair cross-group."""
    from bearly_spark.operators.multimodal import binary_near_dup_pairs

    bs = 8
    base = bytes(range(256))  # 32 blocks of 8
    tail_edit = base[:-8] + b"ZZZZZZZZ"  # last block differs -> j = 31/33
    shifted = b"X" + base  # 1-byte insertion -> every block shifts
    rows = [
        (1, base),
        (2, tail_edit),
        (3, shifted),
        (4, base),  # exact copy of 1
        (5, None),  # null payload
        (6, b""),  # empty payload
        (7, b""),  # empty: exact group with 6
        (8, b"\x00null"),  # the old in-band sentinel value as REAL bytes
    ]
    # boilerplate: one shared 8-byte block in >max_posting otherwise-unique payloads
    rows += [(100 + i, b"SAMEBLK!" + bytes([i]) * 8) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    out = binary_near_dup_pairs(
        df, block_bytes=bs, threshold=0.5, max_posting=8
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}

    assert got[(1, 2)] == round(31 / 33, 6)  # tail edit: 31 shared of 33 union
    assert got[(1, 4)] == 1.0 and got[(2, 4)] == round(31 / 33, 6)
    assert got[(6, 7)] == 1.0  # empty payloads: exact group still pairs
    assert not any(3 in p for p in got)  # shifted copy shares no block
    assert not any(5 in p for p in got)  # null payload never pairs
    # a payload whose BYTES equal the old null sentinel must not pair
    # with the null row (review catch: in-band sentinels collide)
    assert not any(8 in p for p in got)
    # the SAMEBLK! posting (12 > max_posting=8) must NOT fan out
    assert not any(a >= 100 or b >= 100 for a, b in got)

    # same pipeline with the cap lifted: the boilerplate block alone is
    # 1 shared of (2+2-1)=3 union blocks -> j=1/3 < 0.5 threshold, so
    # still no pairs — but at threshold 0.3 they appear, proving the
    # cap (not the threshold) did the dropping above
    out2 = binary_near_dup_pairs(
        df, block_bytes=bs, threshold=0.3, max_posting=1000
    ).collect()
    boiler = [r for r in out2 if r["id_a"] >= 100]
    assert len(boiler) == 12 * 11 // 2
    assert all(r["jaccard"] == round(1 / 3, 6) for r in boiler)


def test_pq_ann_recall_and_compression_contract(spark, sf_dir):
    """PQ ANN: every query answered; returned sims are exact cosines
    (rerank recomputes on raw vectors — checked against brute force on
    the shared pairs); recall at the registry operating point (m=16,
    ksub=16, rerank=100) clears the sweep's measured floor; a planted
    exact duplicate survives quantization + rerank at the top."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = S.brute_force_topk(emb, queries, k=10).collect()
    pq = S.pq_ann_topk(emb, queries, k=10, m=16, ksub=16, rerank=100).collect()
    brute_map = {(r.query_id, r.neighbor_id): r.cosine_sim for r in brute}
    pq_map = {(r.query_id, r.neighbor_id): r.cosine_sim for r in pq}
    assert {q for q, _ in pq_map} == {q for q, _ in brute_map}
    shared = set(pq_map) & set(brute_map)
    assert shared and all(pq_map[p] == brute_map[p] for p in shared)  # exact sims
    brute_sets, pq_sets = {}, {}
    for (q, n), _ in brute_map.items():
        brute_sets.setdefault(q, set()).add(n)
    for (q, n), _ in pq_map.items():
        pq_sets.setdefault(q, set()).add(n)
    recalls = [len(pq_sets[q] & brute_sets[q]) / len(brute_sets[q]) for q in brute_sets]
    assert sum(recalls) / len(recalls) >= 0.6, recalls  # measured 0.98; generous floor

    # planted exact duplicate: identical vector -> identical codes ->
    # ADC 0 -> candidate -> rerank cosine 1.0 at rank 1
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(64)]
    vecs.append((500, vecs[3][1]))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    top = S.pq_ann_topk(
        df, df.filter(F.col("vec_id") == 3), k=3, m=4, ksub=8, rerank=16
    ).collect()
    assert top[0].neighbor_id == 500 and top[0].cosine_sim == 1.0
    assert all(r.neighbor_id != 3 for r in top)  # self excluded


def test_pq_fit_rejects_indivisible_dim(spark):
    import numpy as np

    import pytest as _pytest

    with _pytest.raises(AssertionError, match="not divisible"):
        S.pq_fit(np.zeros((10, 10)), m=3, ksub=4)


def test_chunk_documents_window_semantics(spark):
    """Chunking edges: exact-budget doc -> one chunk; budget+1 -> two
    windows sharing `overlap` tokens; short doc -> one short chunk;
    null/whitespace docs -> nothing; coverage: every token appears in
    some window, consecutive windows overlap exactly."""
    from bearly_spark.operators.text import chunk_documents

    mk = lambda n: " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, mk(8)), (2, mk(9)), (3, mk(3)), (4, None), (5, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=8, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert {d for d in by_doc} == {1, 2, 3}
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_tokens == 8
    two = sorted(by_doc[2], key=lambda r: r.chunk_id)
    assert [r.chunk_tokens for r in two] == [8, 3]
    w0, w1 = two[0].chunk_text.split(), two[1].chunk_text.split()
    assert w0[-2:] == w1[:2]  # exact 2-token overlap
    assert w0 + w1[2:] == [f"t{i}" for i in range(9)]  # full coverage, in order
    assert by_doc[3][0].chunk_tokens == 3 and by_doc[3][0].n_chunks == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_max_cosine_vs_set_planted_and_ties(spark):
    """A corpus vector identical to an eval vector scores max_cos 1.0
    and is flagged; the eval_id tie-break picks the LOWEST eval id when
    two eval vectors attain the same rounded max; zero vectors are
    norm-guarded (cos 0.0, unflagged)."""
    from bearly_spark.operators.similarity import max_cosine_vs_set

    ev = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [1.0, 0.0]), (30, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [(1, [2.0, 0.0]),   # parallel to BOTH 10 and 20 -> tie, eval_id=10
         (2, [0.0, 0.5]),   # matches 30
         (3, [0.0, 0.0])],  # zero vector
        "vec_id long, embedding array<double>",
    )
    rows = {r["id"]: r for r in max_cosine_vs_set(corpus, ev, threshold=0.95).collect()}
    assert rows[1]["max_cos"] == 1.0 and rows[1]["eval_id"] == 10
    assert rows[1]["contaminated"] is True
    assert rows[2]["max_cos"] == 1.0 and rows[2]["eval_id"] == 30
    assert rows[3]["max_cos"] == 0.0 and rows[3]["contaminated"] is False


def test_duplicate_spans_planted_and_clean(spark):
    """Planted boilerplate inside otherwise-unique docs: the shared
    passage (and ONLY it) is reported as one maximal span per doc with
    exact 1-based inclusive offsets; within-doc repetition is caught
    too; unique docs report nothing; removal stitches the remainder."""
    import random

    rng = random.Random(7)

    def uniq(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))

    boiler = "COPYRIGHT NOTICE ALL RIGHTS RESERVED BY THE LICENSE HOLDER X"  # 60 chars
    assert len(boiler) == 60
    a_pre, b_pre = uniq(50), uniq(35)
    rep = uniq(70)
    rows = [
        (0, a_pre + boiler + uniq(40)),
        (1, b_pre + boiler + uniq(55)),
        (2, rep + uniq(20) + rep),          # within-doc repeat
        (3, uniq(200)),                      # unique — no spans
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in D.duplicate_spans(docs, k=20, min_len=40).collect()
    }
    assert spans[0] == (51, 110, 60) and spans[1] == (36, 95, 60)
    assert spans[2] == (1, 160, 160) or spans[2][2] >= 70  # both copies flagged
    assert 3 not in spans

    sp = D.duplicate_spans(docs, k=20, min_len=40)
    cleaned = {r["doc_id"]: r for r in D.remove_duplicate_spans(docs, sp).collect()}
    assert boiler not in cleaned[0]["cleaned"] and cleaned[0]["cleaned"].startswith(a_pre)
    assert cleaned[0]["chars_removed"] == 60 and cleaned[0]["n_spans_removed"] == 1
    assert cleaned[3]["cleaned"] == rows[3][1] and cleaned[3]["n_spans_removed"] == 0


def test_duplicate_spans_island_merge_exact(spark):
    """Two shared passages separated by >k unique chars in the same doc
    merge into TWO spans, not one; a duplicated run of length M yields
    a span of exactly M."""
    import random

    rng = random.Random(11)

    def uniq(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))

    p1, p2 = uniq(45), uniq(50)
    rows = [
        (0, p1 + uniq(60) + p2),
        (1, uniq(30) + p1 + uniq(80) + p2 + uniq(10)),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in D.duplicate_spans(docs, k=20, min_len=40).collect()
    )
    assert got == [(0, 1, 45), (0, 106, 50), (1, 31, 45), (1, 156, 50)]


def test_duplicate_spans_min_len_validation(spark):
    docs = spark.createDataFrame([(0, "x" * 100)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="min_len"):
        D.duplicate_spans(docs, k=30, min_len=20)


def test_vocabulary_and_oov_semantics(spark):
    """Deterministic tie-break (count DESC, token ASC), top_v cut,
    lowercasing; OOV: exact rates, empty/NULL docs report NULL rate."""
    from bearly_spark.operators.text import build_vocabulary, oov_rate

    rows = [
        (0, "aa bb aa CC"),
        (1, "bb cc dd"),
        (2, None),
        (3, "   "),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    vocab = build_vocabulary(docs, "text", top_v=3).collect()
    # counts: aa=2 bb=2 cc=2 dd=1 -> ties broken alphabetically
    assert [(v["token"], v["cnt"], v["rank"]) for v in vocab] == [
        ("aa", 2, 1), ("bb", 2, 2), ("cc", 2, 3)
    ]
    got = {
        r["doc_id"]: r
        for r in oov_rate(
            docs, spark.createDataFrame([("aa",), ("bb",)], ["token"])
        ).collect()
    }
    assert got[0]["n_tokens"] == 4 and got[0]["n_oov"] == 1  # CC -> cc oov
    assert got[0]["oov_rate"] == 0.25
    assert got[1]["n_oov"] == 2 and got[1]["oov_rate"] == round(2 / 3, 6)
    assert got[2]["n_tokens"] == 0 and got[2]["oov_rate"] is None
    assert got[3]["n_tokens"] == 0 and got[3]["oov_rate"] is None


def test_entity_match_pairs_planted(spark):
    """Hand-computed weighted scores; blocking excludes cross-block
    pairs; NULL field scores 0; tier thresholds; bad kind raises."""
    rows = [
        (1, "acme corp", "B1", 10, "T1"),
        (2, "acme corp", "B1", 12, "T1"),   # near-perfect match to 1
        (3, "acme corq", "B2", 10, "T1"),   # 1 edit, diff brand
        (4, "zzzzzzzzz", "B1", 10, "T2"),   # other block
        (5, None, "B1", 10, "T1"),          # NULL name
    ]
    df = spark.createDataFrame(rows, ["id", "name", "brand", "size", "type"])
    fields = [("name", 0.5, "levenshtein"), ("brand", 0.3, "exact"),
              ("size", 0.2, "numeric:10")]
    got = {
        (r["id_a"], r["id_b"]): r
        for r in D.entity_match_pairs(
            df, "id", ["type"], fields, match_threshold=0.9,
            possible_threshold=0.5,
        ).collect()
    }
    assert (1, 4) not in got and (2, 4) not in got  # cross-block
    p12 = got[(1, 2)]
    assert p12["score"] == round(0.5 * 1.0 + 0.3 * 1.0 + 0.2 * 0.8, 6)
    assert p12["tier"] == "match"
    p13 = got[(1, 3)]
    assert p13["score"] == round(0.5 * (1 - 1 / 9) + 0.2 * 1.0, 6)
    assert p13["tier"] == "possible"
    # NULL name -> sim 0 exactly: score = 0.3 + 0.2*1.0 = 0.5
    p15 = got[(1, 5)]
    assert p15["sim_name"] == 0.0 and p15["score"] == 0.5
    assert p15["tier"] == "possible"

    with pytest.raises(ValueError, match="unknown similarity kind"):
        D.entity_match_pairs(df, "id", ["type"], [("name", 1.0, "soundex")])


def test_entity_match_mega_block_capped(spark):
    """Planted mega-block (round-7 verdict #7): one degenerate blocking
    key holding 40 records would contribute C(40,2)=780 pairs; with
    ``max_block=10`` its records are excluded from pair generation
    entirely (bounded output — only the healthy block's pairs emit) and
    the Observation reports the drop loudly. max_block=None disables
    the guard (the quadratic block comes back)."""
    from pyspark.sql import Observation

    mega = [(i, "widget", "UNKNOWN") for i in range(1, 41)]  # degenerate key
    good = [(100, "acme corp", "T1"), (101, "acme corp", "T1")]
    df = spark.createDataFrame(mega + good, ["id", "name", "type"])
    fields = [("name", 1.0, "levenshtein")]

    obs = Observation("er-cap")
    pairs = D.entity_match_pairs(
        df, "id", ["type"], fields, possible_threshold=0.5,
        max_block=10, observation=obs,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100, 101)}
    got = obs.get
    assert got["dropped_buckets"] == 1
    assert got["dropped_ids"] == 40
    assert got["max_bucket_size"] == 40

    uncapped = D.entity_match_pairs(
        df, "id", ["type"], fields, possible_threshold=0.5, max_block=None,
    ).count()
    assert uncapped == 780 + 1  # the mega-block's C(40,2) + the good pair

    # observation + disabled guard is a loud error, not a metric that
    # silently never populates
    with pytest.raises(ValueError, match="observation requires max_block"):
        D.entity_match_pairs(
            df, "id", ["type"], fields, max_block=None,
            observation=Observation("er-nocap"),
        )


def test_line_frequency_clean_boilerplate(spark):
    """Lines repeated >= min_count corpus-wide are cut from every doc
    (order of survivors preserved); short lines are exempt however
    often they repeat; a doc of pure boilerplate comes back ''; NULL
    text passes through NULL."""
    from bearly_spark.operators.dedup import line_frequency_clean

    footer = "(c) example corp - all rights reserved"
    docs = [
        (1, f"alpha content\n{footer}\n--\nmore alpha"),
        (2, f"beta content\n{footer}\n--"),
        (3, f"{footer}\ngamma content"),
        (4, footer),                # pure boilerplate
        (5, None),                  # NULL text
        (6, "unique line\n--"),     # '--' is short: exempt
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in line_frequency_clean(
        df, "doc_id", "text", min_count=3, min_line_chars=4).collect()}
    assert got[1]["cleaned"] == "alpha content\n--\nmore alpha"
    assert got[1]["n_lines_removed"] == 1
    assert got[2]["cleaned"] == "beta content\n--"
    assert got[3]["cleaned"] == "gamma content"
    assert got[4]["cleaned"] == "" and got[4]["n_lines_removed"] == 1
    assert got[5]["cleaned"] is None and got[5]["n_lines_removed"] == 0
    assert got[6]["cleaned"] == "unique line\n--" and got[6]["n_lines_removed"] == 0


def test_gopher_rules_planted(spark):
    """A constructed clean English doc passes every rule; each planted
    defect (too short, bullet-wall, symbol spam, no stopwords, NULL)
    fails the gate; fractions are exact int/int quotients."""
    from bearly_spark.operators.quality import gopher_rules

    clean = "the quick brown fox and the lazy dog have plans to run " * 6
    bullets = "\n".join(f"- item {i}" for i in range(10))
    hashy = "the and have to " + "# " * 60
    nostop = "lorem ipsum dolor sit amet " * 12
    docs = [(1, clean), (2, "too short"), (3, bullets), (4, hashy), (5, nostop), (6, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert got[1]["passes_gopher"] and got[1]["n_words"] == 72
    assert got[1]["n_stop_hits"] >= 2 and got[1]["alpha_frac"] == 1.0
    assert not got[2]["passes_gopher"]          # word count < 50
    assert not got[3]["passes_gopher"] and got[3]["bullet_frac"] == 1.0
    assert not got[4]["passes_gopher"] and got[4]["symbol_ratio"] > 0.1
    assert not got[5]["passes_gopher"] and got[5]["n_stop_hits"] == 0
    assert not got[6]["passes_gopher"] and got[6]["n_words"] == 0


def test_mixture_resample_quotas_shortfall_determinism(spark):
    """Exact per-domain quotas (round-half-up of frac*n_target); a
    domain shorter than its quota contributes everything it has; a
    domain absent from targets is dropped; the draw is stable across
    invocations (md5 hash order, not storage order)."""
    from bearly_spark.operators.quality import mixture_resample

    rows = (
        [(i, "web") for i in range(100)]
        + [(1000 + i, "code") for i in range(10)]   # short domain
        + [(2000 + i, "junk") for i in range(20)]   # unweighted domain
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = mixture_resample(
        df, "doc_id", "domain", {"web": 0.75, "code": 0.25}, n_target=60
    )
    counts = {r["domain"]: r["n"] for r in out.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"web": 45, "code": 10}  # code quota 15 > 10 on hand
    assert "junk" not in counts
    first = sorted(tuple(r) for r in out.collect())
    again = sorted(tuple(r) for r in mixture_resample(
        df, "doc_id", "domain", {"web": 0.75, "code": 0.25}, n_target=60
    ).collect())
    assert first == again
    # mix_rank is a contiguous 1..n_kept prefix of the hash order
    ranks = sorted(r["mix_rank"] for r in out.filter(F.col("domain") == "web").collect())
    assert ranks == list(range(1, 46))


def test_cluster_aware_split_no_straddle(spark, sf_dir):
    """Every near-dup cluster lands wholly in one split (the leakage
    invariant a per-doc hash split violates), and the registry query's
    label set matches minhash_dup_clusters."""
    from bearly_spark.registry import QUERIES

    out = QUERIES["cluster_aware_split_documents"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 500
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    assert any(len({r["cluster"] for r in rows if r["cluster"] == c}) for c in by_cluster)
    # multi-doc clusters exist on this fixture, so the invariant bites
    from collections import Counter

    sizes = Counter(r["cluster"] for r in rows)
    assert max(sizes.values()) >= 2


def test_tfidf_keywords_hand_computed(spark):
    """Scores = (tf/len)·(N/df) with rounded-score ranking and token
    tie-breaks; docs with NULL/empty text are absent."""
    from bearly_spark.operators.text import tfidf_keywords

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c"), (4, None)],
        "doc_id int, text string",
    )
    got = {
        (r["doc_id"], r["token"]): r
        for r in tfidf_keywords(df, "doc_id", "text", top_k=3).collect()
    }
    assert set(got) == {(1, "a"), (1, "b"), (2, "a"), (2, "c"), (3, "c")}
    # d1: a=(2/3)(3/2)=1.0, b=(1/3)(3/1)=1.0 — tie, token asc
    assert got[(1, "a")]["tfidf"] == 1.0 and got[(1, "a")]["rank"] == 1
    assert got[(1, "b")]["tfidf"] == 1.0 and got[(1, "b")]["rank"] == 2
    # d2: both (1/2)(3/2)=0.75 — a first
    assert got[(2, "a")]["rank"] == 1 and got[(2, "c")]["rank"] == 2
    assert got[(2, "c")]["tfidf"] == 0.75
    # d3: c=(2/2)(3/2)=1.5
    assert got[(3, "c")]["tfidf"] == 1.5 and got[(3, "c")]["rank"] == 1


def test_activity_streaks_hand_computed(spark):
    """Islands split on gaps; current streak is the one holding the
    latest period; duplicate periods collapse."""
    from bearly_spark.operators.windows import activity_streaks

    df = spark.createDataFrame(
        [("k", p) for p in [1, 2, 3, 5, 6, 10, 10]] + [("j", 7)],
        "key string, period int",
    )
    got = {r["key"]: r for r in activity_streaks(df, "key", "period").collect()}
    k = got["k"]
    assert k["n_active_periods"] == 6 and k["n_streaks"] == 3
    assert k["longest_streak"] == 3 and k["current_streak"] == 1
    j = got["j"]
    assert (j["n_active_periods"], j["n_streaks"], j["longest_streak"],
            j["current_streak"]) == (1, 1, 1, 1)


def test_containment_pairs_asymmetric(spark):
    """A short doc wholly inside a long one scores containment 1.0 in
    the short direction (where Jaccard would be |A|/|B|); pairs sharing
    only high-df tokens are not discovered (capped inverted index)."""
    from bearly_spark.operators.dedup import containment_pairs

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "unrelated words entirely different"),
    ]
    out = containment_pairs(
        spark.createDataFrame(rows, "doc_id int, text string"),
        "doc_id", "text", threshold=0.8, max_df=100,
    ).collect()
    got = {(r["id_a"], r["id_b"]): r for r in out}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["overlap"] == 3 and r["containment_a"] == 1.0 and r["containment_b"] == 0.3

    # df cap: 'common' appears in all 4 docs; with max_df=3 it can't
    # generate candidates, so the only-shared-token pair vanishes
    rows2 = [(i, "common filler%d" % i) for i in range(4)]
    out2 = containment_pairs(
        spark.createDataFrame(rows2, "doc_id int, text string"),
        "doc_id", "text", threshold=0.5, max_df=3,
    ).collect()
    assert out2 == []


def test_weighted_sample_and_cap_per_key(spark):
    """weighted_sample: p=0 never keeps, p=1 always keeps, NULL weight
    never keeps, p_keep is the raw product clamped at 1. cap_per_key:
    cap bites per key, output is a stable subset of the input."""
    from bearly_spark.operators.quality import cap_per_key, weighted_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, 2.0), (3, None), (4, 5.0)], "id int, w double"
    )
    got = {r["id"]: r for r in weighted_sample(df, "id", "w", rate=1.0).collect()}
    assert 1 not in got and 3 not in got
    assert set(got) == {2, 4} and got[2]["p_keep"] == 1.0 and got[4]["p_keep"] == 1.0

    rows = [(k, i) for k in ("a", "b") for i in range(20)]
    capped = cap_per_key(
        spark.createDataFrame(rows, "key string, id int"), "key", "id", 5
    ).collect()
    from collections import Counter

    c = Counter(r["key"] for r in capped)
    assert c == {"a": 5, "b": 5}
    again = cap_per_key(
        spark.createDataFrame(rows, "key string, id int"), "key", "id", 5
    ).collect()
    assert sorted((r["key"], r["id"]) for r in capped) == sorted(
        (r["key"], r["id"]) for r in again
    )


def test_collocations_pmi_and_min_count(spark):
    """Lift = p(pair)/(p(w1)p(w2)); pairs below min_count drop; ties
    order by (lift desc, w1, w2)."""
    from bearly_spark.operators.text import collocations

    # "x y" always adjacent (3x); "a b" once (below min_count=2... use 2)
    df = spark.createDataFrame(
        [(1, "x y q"), (2, "x y r"), (3, "x y"), (4, "a b")], "id int, text string"
    )
    got = {(r["w1"], r["w2"]): r for r in
           collocations(df, "text", min_count=2, top_n=10).collect()}
    assert ("a", "b") not in got
    r = got[("x", "y")]
    # bigrams: (x,y)x3,(y,q),(y,r),(a,b) -> Nb=6; unigrams: 10 total,
    # c(x)=3, c(y)=3 -> lift = (3/6)/((3/10)(3/10))
    assert r["pair_count"] == 3
    assert r["lift"] == round((3 / 6) / ((3 / 10) * (3 / 10)), 6)


def test_standardize_semantics(spark):
    """z = (x-mean)/std with sample std; NULL passes through as NULL z;
    constant columns report NULL z (no scale)."""
    from bearly_spark.operators.quality import standardize

    df = spark.createDataFrame(
        [(1, 1.0, 7.0), (2, 2.0, 7.0), (3, 3.0, 7.0), (4, None, 7.0)],
        "id int, a double, c double",
    )
    got = {r["id"]: r for r in standardize(df, ["a", "c"]).collect()}
    # mean(a)=2, var=1 -> z = x-2
    assert got[1]["a_z"] == -1.0 and got[2]["a_z"] == 0.0 and got[3]["a_z"] == 1.0
    assert got[4]["a_z"] is None
    assert all(got[i]["c_z"] is None for i in (1, 2, 3, 4))


def test_cms_never_underestimates(spark):
    """CMS point estimates are one-sided: est >= true always; with a
    roomy sketch the planted heavy key estimates exactly."""
    from bearly_spark.operators.sketches import cms_build, cms_estimate

    rows = [(k,) for k in ["hot"] * 50 + ["a", "b", "c"] * 5]
    df = spark.createDataFrame(rows, "k string")
    truth = {"hot": 50, "a": 5, "b": 5, "c": 5}
    keys = spark.createDataFrame([(k,) for k in truth], "k string")
    # tiny sketch: collisions likely, but never an underestimate
    tiny = cms_estimate(cms_build(df, "k", 2, 8), keys, "k", 2, 8)
    for r in tiny.collect():
        assert r["est"] >= truth[r["key"]]
    # roomy sketch: exact for all
    big = cms_estimate(cms_build(df, "k", 4, 4096), keys, "k", 4, 4096)
    assert {r["key"]: r["est"] for r in big.collect()} == truth


def test_bloom_no_false_negatives(spark):
    """Every inserted key must hit; with a tiny filter non-members can
    false-positive but never the reverse."""
    from bearly_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.createDataFrame([(i,) for i in range(50)], "k int")
    probes = spark.createDataFrame([(i,) for i in range(200)], "k int")
    bloom = bloom_build(members, "k", m_bits=256, k_hashes=3)
    got = {r["key"]: r["bloom_hit"]
           for r in bloom_probe(bloom, probes, "k", 256, 3).collect()}
    assert all(got[i] for i in range(50))  # no false negatives
    # sanity: the filter rejects at least something
    assert not all(got[i] for i in range(50, 200))


def test_golden_records_survivorship(spark):
    """Longest non-null wins with smaller-value ties; min/max rules;
    NULL fields lose to any non-null."""
    from bearly_spark.operators.dedup import golden_records

    rows = [
        (1, "c", "bob jones", 10.0),
        (2, "c", "bob j", 30.0),
        (3, "c", None, 20.0),
        (4, "d", None, 5.0),
    ]
    df = spark.createDataFrame(rows, "id int, cl string, name string, price double")
    got = {r["cl"]: r for r in golden_records(
        df, ["cl"],
        {"gid": ("id", "min"), "gname": ("name", "longest"),
         "gprice": ("price", "max")},
    ).collect()}
    c = got["c"]
    assert (c["n_members"], c["gid"], c["gname"], c["gprice"]) == (3, 1, "bob jones", 30.0)
    d = got["d"]
    assert d["gname"] is None and d["gid"] == 4
    # tie on length -> smaller value survives
    df2 = spark.createDataFrame(
        [(1, "c", "bbb"), (2, "c", "aaa")], "id int, cl string, name string"
    )
    g2 = golden_records(df2, ["cl"], {"gname": ("name", "longest")}).collect()[0]
    assert g2["gname"] == "aaa"


def test_negative_samples_contract(spark):
    """Exactly k negatives per anchor, never the anchor itself, stable
    across runs."""
    from bearly_spark.operators.quality import negative_samples

    df = spark.createDataFrame([(i,) for i in range(20)], "doc_id int")
    out = negative_samples(df, "doc_id", k=3).collect()
    assert len(out) == 60
    from collections import Counter

    per = Counter(r["anchor_id"] for r in out)
    assert all(per[i] == 3 for i in range(20))
    assert all(r["negative_id"] != r["anchor_id"] for r in out)
    again = negative_samples(df, "doc_id", k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_scratch_index_mtime_invalidation(tmp_path):
    """The shared on-disk derived-frame cache (``cache.derived_dir``)
    rebuilds iff the source parquet's signature changed: two calls ->
    one build; touching the source -> rebuild. (The contract every
    cached frame relies on: co-order/bipartite edges, minhash clusters,
    dup-span report, ANN/BM25 indexes.)"""
    import os
    import shutil
    import time

    from bearly_spark.cache import SCRATCH, derived_dir

    sf = tmp_path / "sfX"
    sf.mkdir()
    src = sf / "documents.parquet"
    src.write_bytes(b"fixture")
    builds = []

    def build(d):
        os.makedirs(d)
        builds.append(d)

    try:
        p1, _ = derived_dir(str(sf), "test-cache-v1", [str(src)], build)
        p2, _ = derived_dir(str(sf), "test-cache-v1", [str(src)], build)
        assert p1 == p2 and len(builds) == 1
        time.sleep(0.05)
        now = time.time() + 1
        os.utime(src, (now, now))  # simulate fixture regeneration
        derived_dir(str(sf), "test-cache-v1", [str(src)], build)
        assert len(builds) == 2
    finally:
        # always remove the repo-level scratch entry: it is keyed on the
        # sf-dir BASENAME, so a later run of this very test shares it
        shutil.rmtree(os.path.join(SCRATCH, "test-cache-v1-sfX"), ignore_errors=True)


def test_c4_rules_planted(spark):
    """C4 rule pack (Raffel et al. 2020 §2.2) on crafted text: each
    rule fires exactly where the paper says — terminal-punctuation
    line keep (period/bang/question/end-quote), the ≥3-words line
    drop, the javascript line drop, and the page gates (≥5 sentences,
    lorem ipsum, brace)."""
    from bearly_spark.operators.quality import c4_rules

    good = "\n".join(
        [
            "this line ends with a period.",          # kept
            "does this line ask a question?",         # kept
            "this line ends with a bang!",            # kept
            'he said "the end quote counts."',        # kept
            "one more proper sentence right here.",   # kept
            "no terminal punctuation here",           # dropped: punct
            "too short.",                             # dropped: <3 words
            "please enable javascript to continue.",  # dropped: js
        ]
    )
    lorem = "lorem ipsum dolor sit amet. " * 6            # page gate
    brace = "a code snippet { appears on this page. " * 6  # page gate
    thin = "only two proper sentences live here. and this is the second one."
    df = spark.createDataFrame(
        [(1, good), (2, lorem.strip()), (3, brace.strip()), (4, thin),
         (5, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in c4_rules(df).collect()}

    assert got[1]["n_lines"] == 8
    assert got[1]["n_kept_lines"] == 5
    assert got[1]["n_sentences"] == 5
    assert got[1]["passes_c4"]
    assert "javascript" not in got[1]["clean_text"]
    assert "no terminal punctuation" not in got[1]["clean_text"]

    assert got[2]["has_lorem_ipsum"] and not got[2]["passes_c4"]
    assert got[3]["has_brace"] and not got[3]["passes_c4"]
    # thin page: lines survive but the 5-sentence page gate fails
    assert got[4]["n_kept_lines"] == 1 and not got[4]["passes_c4"]
    # NULL text coalesces to '' and fails everything
    assert got[5]["n_kept_lines"] == 0 and not got[5]["passes_c4"]
    assert got[5]["clean_text"] == ""


# ===================================================================
# Round 12: BPE merge learning + PCA power iteration
# ===================================================================


def test_bpe_learn_planted_corpus(spark):
    """Hand-checkable corpus: 'aaab' x3 + 'ab' x2. Char pairs:
    (a,a): 2 per 'aaab' word x freq 3 = 6; (a,b): 1x3 + 1x2 = 5.
    First merge must be ('a','a') -> 'aa' (count 6); after it 'aaab'
    is |aa|a|b| (greedy leftmost non-overlap), so round 2 counts
    (aa,a)=3, (a,b)=5 -> second merge ('a','b')."""
    from bearly_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    merges = T.bpe_learn(docs, "text", n_merges=2)
    assert [(m["left"], m["right"], m["pair_count"]) for m in merges] == [
        ("a", "a", 6),
        ("a", "b", 5),
    ]


def test_bpe_chain_replace_semantics_match_duckdb(spark):
    """The merge step is a plain non-overlapping left-to-right replace;
    the '|a|a|a|' chain is the case where conventions could diverge —
    pin Spark's java String.replace against DuckDB's replace."""
    import duckdb

    import pyspark.sql.functions as F

    cases = ["|a|a|a|", "|a|a|a|a|", "|x|a|a|", "|a|b|a|b|"]
    spark_out = (
        spark.createDataFrame([(c,) for c in cases], "s string")
        .select(F.replace(F.col("s"), F.lit("|a|a|"), F.lit("|aa|")).alias("r"))
        .collect()
    )
    duck_out = [
        duckdb.sql(f"SELECT replace('{c}', '|a|a|', '|aa|')").fetchone()[0]
        for c in cases
    ]
    assert [r["r"] for r in spark_out] == duck_out


def test_bpe_segment_stats_counts(spark):
    from bearly_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "aaab ab"), (1, None), (2, "zz|z aaab")],
        "doc_id long, text string",
    )
    merges = T.bpe_learn(docs, "text", n_merges=1)  # merges (a,a)
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_symbols"])
        for r in T.bpe_segment_stats(docs, "doc_id", "text", merges).collect()
    }
    # 'aaab' -> |aa|a|b| = 3 symbols, 'ab' -> 2; doc 2's 'zz|z' is
    # delimiter-excluded from words/chars/symbols alike
    assert got[0] == (2, 6, 5)
    assert got[1] == (0, 0, 0)
    assert got[2] == (1, 4, 3)


def test_bpe_encode_planted_corpus(spark):
    """Encode under one learned merge (fit on 'aaab aaab aaab ab ab'
    => merge (a,a) -> 'aa'): doc tokens are aaab->|aa|a|b|, ab->|a|b|
    in word order. The token-id inventory is built from the ENCODED
    frame (docs): post-merge freqs b=3, a=2, aa=1 -> ranks
    (freq DESC, sym ASC): b=1, a=2, aa=3."""
    from bearly_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "aaab ab"), (1, None), (2, "zz|z b")],
        "doc_id long, text string",
    )
    fit = spark.createDataFrame(
        [(0, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    merges = T.bpe_learn(fit, "text", n_merges=1)
    rows = sorted(
        (r["doc_id"], r["pos"], r["symbol"], r["token_id"])
        for r in T.bpe_encode(docs, "doc_id", "text", merges).collect()
    )
    # doc 0: aaab = aa,a,b then ab = a,b; doc 1 empty; doc 2 keeps
    # only 'b' (the delimiter word is excluded)
    assert rows == [
        (0, 1, "aa", 3),
        (0, 2, "a", 2),
        (0, 3, "b", 1),
        (0, 4, "a", 2),
        (0, 5, "b", 1),
        (2, 1, "b", 1),
    ]


def test_bpe_encode_cap_truncates_positions(spark):
    from bearly_spark.operators import text as T

    docs = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    merges = T.bpe_learn(docs, "text", n_merges=0) or []
    rows = T.bpe_encode(docs, "doc_id", "text", merges, max_tokens=3).collect()
    assert sorted(r["pos"] for r in rows) == [1, 2, 3]


def test_pca_power_fit_planted_direction(spark):
    """A corpus living on one axis: the dominant direction must be that
    axis, loadings +-10^6 there and ~0 elsewhere, ev_share ~ 1."""
    from bearly_spark.operators import clustering as C

    rows = [(i, [0.9, 0.0, 0.0, 0.0]) for i in range(6)] + [
        (6, [0.0, 0.01, 0.0, 0.0]),
        (7, [0.0, 0.0, -0.01, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fit = C.pca_power_fit(df, iters=6)
    v = fit["loadings"]
    assert abs(v[0]) == 1_000_000
    assert all(abs(x) < 1_000 for x in v[1:])
    share = fit["ev_share_num"] / fit["ev_share_den"]
    assert share > 0.999


def test_pca_power_fit_is_deterministic_and_exact(spark, sf_dir):
    """Same fixture, two fits -> identical integer loadings (the whole
    pipeline is exact arithmetic; any nondeterminism would also break
    the SQL twin)."""
    from bearly_spark.operators import clustering as C
    from bearly_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = C.pca_power_fit(emb, iters=3)
    b = C.pca_power_fit(emb.repartition(7), iters=3)
    assert a["loadings"] == b["loadings"]
    assert a["rayleigh_num"] == b["rayleigh_num"]


def test_pca_project_matches_python_dot(spark):
    from bearly_spark.operators import clustering as C

    rows = [(0, [0.5, -0.25]), (1, [0.125, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    loadings = [1_000_000, -500_000]
    got = {r["vec_id"]: r["proj"] for r in C.pca_project(df, loadings).collect()}
    import math

    q = 1 << 20
    for vid, vec in rows:
        xq = [math.floor(float(x) * q) for x in vec]
        assert got[vid] == xq[0] * loadings[0] + xq[1] * loadings[1]


def test_gram_matrix_exact_and_symmetric(spark):
    from bearly_spark.operators import clustering as C
    import math

    rows = [(0, [0.5, -0.25, 0.75]), (1, [0.1, 0.2, -0.3]), (2, [0.0, 0.9, 0.01])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    G = C.gram_matrix(df.repartition(3))
    q = 1 << 20
    xq = [[math.floor(float(x) * q) for x in vec] for _, vec in rows]
    for i in range(3):
        for j in range(3):
            assert G[i][j] == sum(r[i] * r[j] for r in xq)
            assert G[i][j] == G[j][i]


def test_sq8_codes_planted(spark):
    """code_i = floor(v_i * 127 / max|v| + 0.5): [1.0, -0.5, 0.0] has
    scale 1.0 -> codes [127, -63, 0] (floor(-63.0) after the +0.5 pull);
    the all-zero vector keeps scale 0 and all-zero codes."""
    from bearly_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["sq_scale"], r["sq_codes"])
        for r in S.sq8_code_table(df).collect()
    }
    assert got[1] == (1.0, [127, -63, 0])
    assert got[2] == (0.0, [0, 0, 0])


def test_sq8_ann_matches_brute_force_at_full_rerank(spark, sf_dir):
    """With rerank >= corpus size the SQ8 path must return exactly the
    brute-force top-k (the approximation only selects CANDIDATES; the
    final ranking is the same exact rounded cosine)."""
    from bearly_spark.operators import similarity as S
    from bearly_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2)
    exact = {
        (r["query_id"], r["rn"]): r["neighbor_id"]
        for r in S.brute_force_topk(emb, q, k=5).collect()
    }
    sq8 = {
        (r["query_id"], r["rn"]): r["neighbor_id"]
        for r in S.sq8_ann_topk(emb, q, k=5, rerank=10_000).collect()
    }
    assert sq8 == exact
