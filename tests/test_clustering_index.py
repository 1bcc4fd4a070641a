"""Semantic-dedup-at-ingest index: stream-equals-batch, replay
idempotence, witness-policy semantics, compaction invariance, and the
cell-directory pruning contract."""

import os
import shutil
import uuid

import pyspark.sql.functions as F

from bearly_spark.operators import clustering as C
from bearly_spark.streaming import semdedup_index as SI

Q = C.QUANT_SCALE


def _emb(spark, rows):
    data = [(i, [float(x) / Q for x in v]) for i, v in rows]
    return spark.createDataFrame(data, "vec_id long, embedding array<float>")


def _scratch(tmp_path, name):
    return str(tmp_path / f"{name}-{uuid.uuid4().hex[:8]}")


#: 18-degree chain on the integer grid: a~b and b~c at cos>=0.95 but
#: a!~c (cos~0.81) — the witness-policy discriminator.
A, B, Ch = [1000, 0], [951, 309], [809, 588]


def test_multibatch_stream_equals_batch_semdedup(spark, sf_dir, tmp_path):
    """Id-ordered micro-batches under frozen centroids must produce
    exactly the batch semdedup_flags verdicts on the union."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100000)
    )
    union = emb.unionByName(copies)

    idx = _scratch(tmp_path, "semidx")
    cents = SI.build_semdedup_index(emb, idx, k=8, iters=1)

    # three id-ordered waves; the exact copies arrive LAST
    SI.upsert_semdedup_batch(emb.filter(F.col("vec_id") < 150), 0, idx)
    SI.upsert_semdedup_batch(
        emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)), 1, idx
    )
    SI.upsert_semdedup_batch(
        emb.filter(F.col("vec_id") >= 300).unionByName(copies), 2, idx
    )

    got = {
        r.vec_id: (r.cell, r.kept)
        for r in SI.semdedup_index_verdicts(spark, idx).collect()
    }
    want = {
        r.vec_id: (r.cluster, r.kept)
        for r in C.semdedup_flags(union, centroids=cents).collect()
    }
    assert got == want
    # the planted copies are the (only, at tau=0.95) drops
    dropped = sorted(i for i, (_, kept) in got.items() if not kept)
    assert dropped == [100000, 100001, 100002, 100003, 100004]
    shutil.rmtree(idx)


def test_replay_is_idempotent(spark, tmp_path):
    idx = _scratch(tmp_path, "semidx")
    fit = _emb(spark, [(0, A)])
    SI.build_semdedup_index(fit, idx, k=1, iters=0)
    b1 = _emb(spark, [(1, A), (2, A)])
    SI.upsert_semdedup_batch(b1, 0, idx)
    first = sorted(
        (r.vec_id, r.kept, r.batch)
        for r in SI.semdedup_index_verdicts(spark, idx).collect()
    )
    n_members = spark.read.parquet(f"{idx}/members").count()
    SI.upsert_semdedup_batch(b1, 0, idx)  # at-least-once replay
    again = sorted(
        (r.vec_id, r.kept, r.batch)
        for r in SI.semdedup_index_verdicts(spark, idx).collect()
    )
    assert again == first == [(1, True, 0), (2, False, 0)]
    assert spark.read.parquet(f"{idx}/members").count() == n_members
    shutil.rmtree(idx)


def test_empty_batch_writes_nothing(spark, tmp_path):
    """An empty micro-batch writes no members, verdicts or stats
    partition: neither before the first ingest nor after one."""
    idx = _scratch(tmp_path, "semidx")
    SI.build_semdedup_index(_emb(spark, [(0, A)]), idx, k=1, iters=0)
    SI.upsert_semdedup_batch(_emb(spark, []), 0, idx)
    assert sorted(os.listdir(idx)) == ["centroids"]
    SI.upsert_semdedup_batch(_emb(spark, [(1, A)]), 1, idx)
    SI.upsert_semdedup_batch(_emb(spark, []), 2, idx)
    for table in ("members/cell=0", "verdicts", "stats"):
        parts = sorted(d for d in os.listdir(f"{idx}/{table}") if d.startswith("batch="))
        assert parts == ["batch=1"], table
    assert [r.batch for r in SI.semdedup_index_stats(spark, idx).collect()] == [1]
    shutil.rmtree(idx)


def test_witness_policy_all_vs_kept_on_the_chain(spark, tmp_path):
    # witness="all": b drops (a), c drops (b, though b was dropped)
    for witness, expect_c in (("all", False), ("kept", True)):
        idx = _scratch(tmp_path, f"semidx-{witness}")
        SI.build_semdedup_index(_emb(spark, [(0, A)]), idx, k=1, iters=0)
        SI.upsert_semdedup_batch(_emb(spark, [(1, A)]), 0, idx, witness=witness)
        SI.upsert_semdedup_batch(_emb(spark, [(2, B)]), 1, idx, witness=witness)
        SI.upsert_semdedup_batch(_emb(spark, [(3, Ch)]), 2, idx, witness=witness)
        got = {
            r.vec_id: r.kept
            for r in SI.semdedup_index_verdicts(spark, idx).collect()
        }
        assert got[1] is True  # first arrival always kept
        assert got[2] is False  # ~a in both policies
        assert got[3] is expect_c, f"witness={witness}"
        shutil.rmtree(idx)


def test_within_batch_greedy_matches_cross_batch(spark, tmp_path):
    """The a,b,c chain inside ONE batch must flag exactly like the
    three-batch arrival (witness=all): greedy order is (arrival, id)."""
    idx = _scratch(tmp_path, "semidx")
    SI.build_semdedup_index(_emb(spark, [(0, A)]), idx, k=1, iters=0)
    SI.upsert_semdedup_batch(_emb(spark, [(1, A), (2, B), (3, Ch)]), 0, idx)
    got = {
        r.vec_id: r.kept for r in SI.semdedup_index_verdicts(spark, idx).collect()
    }
    assert got == {1: True, 2: False, 3: False}
    shutil.rmtree(idx)


def test_compaction_preserves_members_and_future_verdicts(spark, tmp_path):
    idx = _scratch(tmp_path, "semidx")
    SI.build_semdedup_index(_emb(spark, [(0, A)]), idx, k=1, iters=0)
    SI.upsert_semdedup_batch(_emb(spark, [(1, A)]), 0, idx)
    SI.upsert_semdedup_batch(_emb(spark, [(2, B)]), 1, idx)
    before = sorted(
        (r.vec_id, r.kept)
        for r in spark.read.parquet(f"{idx}/members").collect()
    )
    folded = SI.compact_semdedup_index(spark, idx)
    assert folded == 2
    after = sorted(
        (r.vec_id, r.kept)
        for r in spark.read.parquet(f"{idx}/members").collect()
    )
    assert after == before
    # replaying an already-folded batch changes no verdict (its own
    # folded vectors must not witness against it)
    logged = sorted(
        tuple(r) for r in SI.semdedup_index_verdicts(spark, idx).collect()
    )
    SI.upsert_semdedup_batch(_emb(spark, [(1, A)]), 0, idx)
    assert sorted(
        tuple(r) for r in SI.semdedup_index_verdicts(spark, idx).collect()
    ) == logged
    # post-compaction ingest still sees the folded witnesses
    SI.upsert_semdedup_batch(_emb(spark, [(3, Ch)]), 2, idx)
    got = {
        r.vec_id: r.kept for r in SI.semdedup_index_verdicts(spark, idx).collect()
    }
    assert got[3] is False  # ~b, which survived compaction (flagged, stored)
    shutil.rmtree(idx)


def test_probe_reads_prune_cell_directories(spark, tmp_path):
    """cell= is the first partition level: the probe's member read must
    carry a PartitionFilters entry on cell, not list every cell dir."""
    idx = _scratch(tmp_path, "semidx")
    fit = _emb(spark, [(0, [1000, 0]), (1, [0, 1000])])
    SI.build_semdedup_index(fit, idx, k=2, iters=0)
    SI.upsert_semdedup_batch(
        _emb(spark, [(2, [999, 10]), (3, [10, 999])]), 0, idx
    )
    probe = SI._read_members(spark, idx, [0], exclude_batch=None)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # and the filter actually prunes: only cell 0's member comes back
    assert [r.vec_id for r in probe.collect()] == [2]
    shutil.rmtree(idx)


def test_streaming_wrapper_drains_and_verdicts_once(spark, sf_dir, tmp_path):
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(100)
    )
    idx = _scratch(tmp_path, "semidx")
    ckpt = _scratch(tmp_path, "ckpt")
    src = _scratch(tmp_path, "src")
    SI.build_semdedup_index(emb, idx, k=4, iters=1)
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(src, mode="append")
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = SI.streaming_semdedup_index(stream, idx, ckpt)
    q.awaitTermination(120)
    v = SI.semdedup_index_verdicts(spark, idx)
    assert v.count() == 100
    assert v.select("vec_id").distinct().count() == 100  # one verdict per vector
    # restart over the same checkpoint: nothing new to process
    q2 = SI.streaming_semdedup_index(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src),
        idx,
        ckpt,
    )
    q2.awaitTermination(120)
    assert SI.semdedup_index_verdicts(spark, idx).count() == 100
    for d in (idx, ckpt, src):
        shutil.rmtree(d)


def test_unbuilt_index_raises_clearly(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="build_semdedup_index first"):
        SI.upsert_semdedup_batch(_emb(spark, [(1, A)]), 0, _scratch(tmp_path, "missing"))


def test_dim_mismatch_raises_clearly(spark):
    import pytest

    df = _emb(spark, [(0, [1, 2, 3])])  # 3-dim vectors vs 2-dim centroids
    with pytest.raises(Exception, match="centroid dim"):
        C.assign_clusters(df, [[1, 2]]).collect()


def test_stats_log_exact_and_replay_idempotent(spark, tmp_path):
    idx = _scratch(tmp_path, "semidx")
    SI.build_semdedup_index(_emb(spark, [(0, A)]), idx, k=1, iters=0)
    b = _emb(spark, [(1, A), (2, B)])
    SI.upsert_semdedup_batch(b, 0, idx)
    SI.upsert_semdedup_batch(b, 0, idx)  # replay rewrites its own slice
    rows = SI.semdedup_index_stats(spark, idx).collect()
    assert len(rows) == 1
    r = rows[0]
    # dist(A->A)=0; dist(B->A) = 49^2 + 309^2 = 97882 (exact ints)
    assert (r.cell, r.n_vecs, int(r.sum_dist), r.mean_dist, r.max_dist, r.batch) == (
        0, 2, 97882, 48941, 97882, 0,
    )
    shutil.rmtree(idx)


def test_stream_equals_batch_past_the_cell_cap(spark, tmp_path):
    """r11 (ADVICE): past ``max_cell`` the stream must apply the BATCH
    cap rule — truncate the WITNESS POOL to the max_cell
    earliest-precedence entries and still test EVERY row — so
    stream-equals-batch holds at any cell size, and rows beyond the cap
    are never silently emitted kept=True untested."""
    import numpy as np

    rng = np.random.default_rng(7)
    # 12 vectors in one cell (k=1): 4 planted duplicate pairs spread
    # across the pool boundary plus 4 unique directions
    base = [list(map(int, rng.integers(100, 1000, size=3))) for _ in range(8)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(8 + j, base[2 * j]) for j in range(4)]  # dups of ids 0,2,4,6
    emb = _emb(spark, rows)

    for max_cell in (3, 5, 12):
        idx = _scratch(tmp_path, f"semidx-cap{max_cell}")
        cents = SI.build_semdedup_index(emb, idx, k=1, iters=0)
        SI.upsert_semdedup_batch(
            emb.filter(F.col("vec_id") < 6), 0, idx, max_cell=max_cell
        )
        SI.upsert_semdedup_batch(
            emb.filter(F.col("vec_id") >= 6), 1, idx, max_cell=max_cell
        )
        got = {
            r.vec_id: r.kept
            for r in SI.semdedup_index_verdicts(spark, idx).collect()
        }
        want = {
            r.vec_id: r.kept
            for r in C.semdedup_flags(
                emb, centroids=cents, max_cell=max_cell
            ).collect()
        }
        assert got == want, f"max_cell={max_cell}"
        truncated = {
            r.vec_id: r.cell_truncated
            for r in SI.semdedup_index_verdicts(spark, idx).collect()
        }
        # batch 1 sees 6 old members + 6 new rows: pool truncates
        # whenever max_cell < 12
        assert truncated[8] is (max_cell < 12)
        shutil.rmtree(idx)


def test_hier_index_stream_equals_batch(spark, sf_dir, tmp_path):
    """r11: the ingest index built with the TWO-LEVEL frozen geometry
    (coarse broadcast + distributed fine centroids) must produce
    exactly the batch hierarchical verdicts on the union — same
    contract as the flat index, one geometry level up — including
    identical packed cell labels (stride derived from the frozen
    frame on both paths)."""
    import pyspark.sql.functions as F

    from bearly_spark.operators import clustering as C

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    union = emb.unionByName(copies)
    idx = _scratch(tmp_path, "hieridx")
    SI.build_hier_semdedup_index(emb, idx, k1=4, k2=4, iters=2, fanout=4)
    SI.upsert_semdedup_batch(emb.filter(F.col("vec_id") < 150), 0, idx)
    SI.upsert_semdedup_batch(
        emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)), 1, idx
    )
    SI.upsert_semdedup_batch(
        emb.filter(F.col("vec_id") >= 300).unionByName(copies), 2, idx
    )
    got = {
        r.vec_id: (r.cell, r.kept)
        for r in SI.semdedup_index_verdicts(spark, idx).collect()
    }
    fitted = C.hierarchical_fit(emb, k1=4, k2=4, iters=2, fanout=4)
    want = {
        r.vec_id: (r.cell, r.kept)
        for r in C.semdedup_flags_hier(union, fitted=fitted, fanout=4).collect()
    }
    assert got == want
    assert sorted(i for i, (_, k) in got.items() if not k) == list(
        range(100000, 100020)
    )
    shutil.rmtree(idx)
