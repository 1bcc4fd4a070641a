"""Structured Streaming correctness: stream-mode (availableNow) results
must equal the batch run of the same transform — the incremental-execution
guarantee. Uses the events fixture as a file source.
"""

import pyspark.sql.functions as F
import pytest

from bearly_spark.sources.tables import events_with_timestamp
from bearly_spark.streaming import (
    events_stream,
    session_window_counts,
    sliding_window_counts,
    stateful_running_max,
    tumbling_window_counts,
)


def _run_stream_to_memory(spark, sdf, name, output_mode="complete"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _normalize(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    # The file streaming source requires a directory (production layout:
    # a landing dir files arrive into) — stage the fixture file into one.
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return events_stream(spark, str(d))


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return events_with_timestamp(spark, sf_dir)


def test_tumbling_stream_equals_batch(spark, stream_src, batch_events):
    got = _run_stream_to_memory(
        spark, tumbling_window_counts(stream_src), "t_tumbling"
    )
    want = tumbling_window_counts(batch_events)
    assert _normalize(got) == _normalize(want)


def test_sliding_stream_equals_batch(spark, stream_src, batch_events):
    got = _run_stream_to_memory(spark, sliding_window_counts(stream_src), "t_sliding")
    want = sliding_window_counts(batch_events)
    assert _normalize(got) == _normalize(want)


def test_session_stream_equals_batch(spark, stream_src, batch_events):
    got = _run_stream_to_memory(spark, session_window_counts(stream_src), "t_session")
    want = session_window_counts(batch_events)
    assert _normalize(got) == _normalize(want)


def test_stateful_running_max(spark, stream_src, batch_events):
    """applyInPandasWithState per-user running max: after draining the
    whole fixture, state must equal the batch max(value) per user."""
    got = _run_stream_to_memory(
        spark, stateful_running_max(stream_src), "t_state", output_mode="update"
    )
    # "update" memory sink keeps every update; take the last per user
    final = (
        got.groupBy("user_id")
        .agg(F.max("running_max").alias("running_max"), F.max("n_seen").alias("n_seen"))
        .collect()
    )
    want = {
        r.user_id: (r.mx, r.n)
        for r in batch_events.groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_map = {r.user_id: (r.running_max, r.n_seen) for r in final}
    assert got_map == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a 30-min watermark: a row arriving
    after the watermark passed its window must be dropped, while on-time
    windows emit. (Batch mode would include the late row — the delta IS
    the watermark contract.)"""
    import pyspark.sql.functions as F
    from bearly_spark.streaming import events_stream, tumbling_window_counts

    src = tmp_path / "late_src"
    src.mkdir()
    ck = tmp_path / "late_ck"

    def hours(h):  # epoch nanos at hour h of 2024-01-01
        return (1704067200 + h * 3600) * 1_000_000_000

    def write_batch(rows, fname):
        spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    # batch A: on-time events in [10:00, 11:00)
    write_batch([(i, hours(10) + i * 60_000_000_000, 1, "click", 1.0, "{}") for i in range(5)], "a")

    sdf = tumbling_window_counts(events_stream(spark, str(src)), window="1 hour", watermark="30 minutes")
    q = (
        sdf.writeStream.format("memory").queryName("t_late")
        .outputMode("append").option("checkpointLocation", str(ck)).start()
    )
    try:
        q.processAllAvailable()  # watermark -> 10:04+ - 0:30 (no window closed yet)
        # batch B: an event at 13:00 (advances watermark past 11:00) plus a
        # LATE row back at 08:00 whose window the watermark already passed.
        write_batch([(100, hours(13), 2, "click", 1.0, "{}"),
                     (101, hours(8), 3, "click", 1.0, "{}")], "b")
        q.processAllAvailable()
        # batch C: push watermark far ahead so 13:00's window also closes.
        write_batch([(200, hours(20), 2, "click", 1.0, "{}")], "c")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.window_start.hour for r in spark.table("t_late").collect()}
    assert 10 in got          # on-time window emitted
    assert 13 in got          # the watermark-advancing event's window emitted
    assert 8 not in got       # late row dropped by the watermark


def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path_factory, batch_events):
    """Stream-stream interval join (both sides watermarked) drained with
    availableNow must equal the batch run of the same transform."""
    import shutil

    from bearly_spark.streaming import stream_stream_interval_join

    d = tmp_path_factory.mktemp("ss_join")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    sp = events_stream(spark, str(d)).filter(F.col("event_type") == "purchase")
    sf = events_stream(spark, str(d))
    got = _run_stream_to_memory(
        spark,
        stream_stream_interval_join(sp, sf, window_seconds=1800),
        "t_ssjoin",
        output_mode="append",
    )
    want = stream_stream_interval_join(
        batch_events.filter(F.col("event_type") == "purchase"),
        batch_events,
        window_seconds=1800,
    )
    assert _normalize(got) == _normalize(want)


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    """A doubled source (every file delivered twice) must come out with
    exactly one row per event_id."""
    import shutil

    from bearly_spark.streaming import streaming_dedup

    d = tmp_path_factory.mktemp("dedup_src")
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")
    got = _run_stream_to_memory(
        spark, streaming_dedup(events_stream(spark, str(d))), "t_sdedup", output_mode="append"
    )
    n_unique = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_transform_with_state_user_stats(spark, sf_dir, tmp_path_factory, batch_events):
    """transformWithStateInPandas (Spark 4 StatefulProcessor + ValueState):
    final per-user state must equal the batch (count, sum) aggregate.

    The API's state-server protocol needs protobuf python-side; skipped
    where that dependency is absent (applyInPandasWithState above covers
    the stateful contract there)."""
    pytest.importorskip("google.protobuf")
    import shutil

    from bearly_spark.streaming import stateful_user_stats_v2

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        d = tmp_path_factory.mktemp("tws_src")
        shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
        got = _run_stream_to_memory(
            spark,
            stateful_user_stats_v2(events_stream(spark, str(d))),
            "t_tws",
            output_mode="update",
        )
        final = (
            got.groupBy("user_id")
            .agg(F.max("n_seen").alias("n_seen"), F.max("total").alias("total"))
            .collect()
        )
        want = {
            r.user_id: (r.n, round(r.total, 2))
            for r in batch_events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert {r.user_id: (r.n_seen, r.total) for r in final} == want
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)


def test_checkpoint_restart_processes_only_new_files(spark, sf_dir, tmp_path_factory):
    """Exactly-once across restarts: after a drained availableNow run, a
    second run over the SAME checkpoint must pick up only files that
    arrived in between — no reprocessing, no gaps. This is the recovery
    contract that lets a 100 TB ingest resume mid-backfill."""
    import shutil

    base = tmp_path_factory.mktemp("ckpt_restart")
    src = base / "src"
    src.mkdir()
    out = str(base / "out")
    ck = str(base / "ck")
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")

    def drain():
        q = (
            events_stream(spark, str(src))
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    n_one = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    drain()
    assert spark.read.parquet(out).count() == n_one

    # no new files -> restart is a no-op
    drain()
    assert spark.read.parquet(out).count() == n_one

    # one new file -> exactly its rows are appended
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 2 * n_one
    # every event_id appears exactly twice (once per source file), never more
    import pyspark.sql.functions as F

    dup_counts = got.groupBy("event_id").count().select(F.collect_set("count")).collect()[0][0]
    assert dup_counts == [2]


def test_streaming_lsh_index_equals_batch_ann(spark, sf_dir, tmp_path_factory):
    """The incrementally-built LSH index (vectors arriving as a stream,
    one micro-batch per file) must answer ANN queries IDENTICALLY to the
    one-shot batch path at the same operating point — the concrete form
    of 'LSH is the streaming-friendly ANN fallback'."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.similarity import lsh_ann_topk
    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.ann_index import (
        ann_query_over_index,
        streaming_lsh_index,
    )

    root = tmp_path_factory.mktemp("annidx")
    src, idx, ckpt = f"{root}/src", f"{root}/index", f"{root}/ckpt"

    emb = load_table(spark, sf_dir, "embeddings")
    # stage the corpus as two arrival waves -> at least two micro-batches
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(src, mode="append")
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(src, mode="append")

    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = streaming_lsh_index(stream, idx, ckpt)
    q.awaitTermination(120)

    # every corpus vector indexed exactly once per band
    n = emb.count()
    got = spark.read.parquet(idx)
    assert got.count() == n * 8  # bands=8, one key per band per vector
    assert got.select("c_id").distinct().count() == n

    queries = emb.filter(F.col("vec_id") < 5)
    via_index = ann_query_over_index(spark, idx, emb, queries).collect()
    batch = lsh_ann_topk(emb, queries, k=10, nbits=56, bands=8, probe=1).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.cosine_sim, r.rn) for r in rows)
    assert key(via_index) == key(batch)
    # round 5: the pruned index scan (default) must equal the full scan
    full = ann_query_over_index(
        spark, idx, emb, queries, scan_prune_max_keys=0
    ).collect()
    assert key(via_index) == key(full)


def test_lsh_index_replay_idempotent_and_compaction(spark, sf_dir, tmp_path_factory):
    """foreachBatch is at-least-once: a replayed micro-batch must NOT
    duplicate index rows (dynamic partition overwrite keyed on batch_id
    makes the sink idempotent), and compaction must fold the per-batch
    file sets into one file per band without changing query answers."""
    import pyspark.sql.functions as F

    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.ann_index import (
        ann_query_over_index,
        compact_lsh_index,
        read_index,
        upsert_index_batch,
    )

    idx = str(tmp_path_factory.mktemp("annidx_replay") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)

    upsert_index_batch(even, 0, idx)
    upsert_index_batch(odd, 1, idx)
    assert read_index(spark, idx).count() == n * 8  # bands=8, 1 key/band

    # at-least-once replay of batch 0: rewrites its own partitions,
    # count unchanged WITHOUT any dedup-on-read
    upsert_index_batch(even, 0, idx)
    assert read_index(spark, idx).count() == n * 8

    queries = emb.filter(F.col("vec_id") < 5)
    before = ann_query_over_index(spark, idx, emb, queries).collect()

    folded = compact_lsh_index(spark, idx)
    assert folded == 2  # batch=0 and batch=1 both folded into the base

    # bounded file count: exactly one parquet file per band, one base dir
    import pathlib

    root = pathlib.Path(idx)
    batch_dirs = [d for d in root.iterdir() if d.name.startswith("batch=")]
    assert len(batch_dirs) == 1
    files = list(batch_dirs[0].glob("band=*/*.parquet"))
    assert len(files) == 8

    # index content and query answers unchanged
    assert read_index(spark, idx).count() == n * 8
    after = ann_query_over_index(spark, idx, emb, queries).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.cosine_sim, r.rn) for r in rows)
    assert key(after) == key(before)

    # already compact -> no-op
    assert compact_lsh_index(spark, idx) == 0

    # ingestion continues after compaction: new batches land beside the
    # base, counts stay exact, and the next compaction folds base + new
    # batches into a fresh base (generation id counts down)
    from bearly_spark.operators.similarity import lsh_ann_topk

    extra = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    upsert_index_batch(extra, 2, idx)
    assert read_index(spark, idx).count() == (n + 10) * 8
    assert compact_lsh_index(spark, idx) == 2  # base + batch=2
    assert read_index(spark, idx).count() == (n + 10) * 8
    aug = emb.unionByName(extra)
    after2 = ann_query_over_index(spark, idx, aug, queries).collect()
    expect = lsh_ann_topk(aug, queries, k=10, nbits=56, bands=8, probe=1).collect()
    assert key(after2) == key(expect)


def test_rocksdb_state_store_equals_batch(spark, sf_dir, tmp_path_factory):
    """Stateful streaming on the RocksDB state store provider (ships in
    Spark's jars) — the 100 TB posture for streaming state: state lives
    off-heap/on-disk per task instead of in executor heap, so watermark
    state scales with disk, not memory. Same tumbling aggregation must
    produce identical results to the batch twin under the provider."""
    import shutil

    from bearly_spark.streaming import events_stream, tumbling_window_counts

    d = tmp_path_factory.mktemp("events_rocksdb")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sdf = tumbling_window_counts(events_stream(spark, str(d)))
        q = (
            sdf.writeStream.format("memory")
            .queryName("rocksdb_tumbling")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # RocksDB provider actually engaged for this query's state
        assert "RocksDB" in spark.conf.get(key)
        got = sorted(tuple(r) for r in spark.table("rocksdb_tumbling").collect())
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    from bearly_spark.sources.tables import events_with_timestamp

    batch = sorted(
        tuple(r)
        for r in tumbling_window_counts(events_with_timestamp(spark, sf_dir)).collect()
    )
    assert got == batch


def test_python_streaming_datasource_equals_batch(spark, tmp_path_factory):
    """The custom python data source's STREAMING face: micro-batches of
    deterministic ids; the drained stream must equal the batch read of
    the same id range (offset-range replay determinism — the contract
    checkpoint recovery relies on)."""
    import time

    from bearly_spark.sources import pydatasource

    pydatasource.register(spark)
    ckpt = str(tmp_path_factory.mktemp("pyds_ckpt"))
    sdf = (
        spark.readStream.format("synthetic_docs")
        .option("rows_per_batch", 50)
        .option("max_rows", 200)
        .load()
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("pyds_stream")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("pyds_stream").count() >= 200:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("pyds_stream").collect())
    assert len(got) == 200
    batch = sorted(
        tuple(r)
        for r in spark.read.format("synthetic_docs")
        .option("n_rows", 200)
        .load()
        .collect()
    )
    assert got == batch


def test_stream_static_join_equals_batch(spark, sf_dir, tmp_path_factory):
    """Stream-static join (the canonical streaming enrichment: fact
    stream x broadcast dimension): per-micro-batch join against a static
    DataFrame needs NO watermark/state — results must equal the batch
    join of the same inputs."""
    import shutil

    import pyspark.sql.functions as F

    from bearly_spark.sources.tables import events_with_timestamp, load_table
    from bearly_spark.streaming import events_stream

    d = tmp_path_factory.mktemp("events_static")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")

    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )

    def enrich(ev):
        return (
            ev.join(F.broadcast(dim), "user_id")
            .groupBy("c_mktsegment", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q = (
        enrich(events_stream(spark, str(d)))
        .writeStream.format("memory")
        .queryName("stream_static")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.table("stream_static").collect())
    want = sorted(
        tuple(r) for r in enrich(events_with_timestamp(spark, sf_dir)).collect()
    )
    assert got == want


def test_streaming_document_embedding_index_pipeline(spark, sf_dir, tmp_path_factory):
    """End-to-end INCREMENTAL training-data pipeline: documents arriving
    as a file stream -> feature-hashed TF embeddings (deterministic,
    model-free — so a micro-batch can be embedded the moment it lands)
    -> idempotent LSH index upsert. ANN answers over the incrementally
    built index must equal the one-shot batch pipeline over the same
    corpus: the streaming form of docs -> vectors -> search."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.similarity import lsh_ann_topk
    from bearly_spark.operators.text import hashed_tf_embedding
    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.ann_index import (
        ann_query_over_index,
        streaming_lsh_index,
    )

    root = tmp_path_factory.mktemp("docpipe")
    src, idx, ckpt = f"{root}/src", f"{root}/index", f"{root}/ckpt"

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # two arrival waves -> at least two micro-batches
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src, mode="append")
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(src, mode="append")

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    # the featurizer aggregates, which is illegal on the unbounded stream
    # itself — it runs per-micro-batch via the prepare hook instead
    q = streaming_lsh_index(
        stream,
        idx,
        ckpt,
        id_col="doc_id",
        prepare=lambda batch: hashed_tf_embedding(batch, "doc_id", "text", dim=64),
    )
    q.awaitTermination(120)

    batch_emb = hashed_tf_embedding(docs, "doc_id", "text", dim=64)
    queries = batch_emb.filter(F.col("doc_id") < 3)
    via_index = ann_query_over_index(
        spark, idx, batch_emb, queries, id_col="doc_id", k=5
    ).collect()
    batch = lsh_ann_topk(
        batch_emb, queries, id_col="doc_id", k=5, nbits=56, bands=8, probe=1
    ).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.cosine_sim, r.rn) for r in rows)
    assert key(via_index) == key(batch)
    assert len(via_index) == 15  # 3 queries x k=5


def test_lsh_index_crash_mid_compaction_reader_no_dup_or_loss(
    spark, sf_dir, tmp_path_factory, monkeypatch
):
    """Round-4 verdict #6: compaction that crashes AFTER atomically
    publishing the new base but BEFORE deleting the folded per-batch
    dirs leaves duplicates on disk — the logical index (dedup read and
    the query path's candidate-level dropDuplicates) must be unchanged,
    and the next compaction must heal the crash state."""
    import pathlib

    import pyspark.sql.functions as F

    import bearly_spark.streaming.ann_index as AI
    import bearly_spark.streaming.store as store
    from bearly_spark.sources.tables import load_table

    idx = str(tmp_path_factory.mktemp("annidx_crash") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    AI.upsert_index_batch(emb.filter(F.col("vec_id") % 2 == 0), 0, idx)
    AI.upsert_index_batch(emb.filter(F.col("vec_id") % 2 == 1), 1, idx)

    key = lambda df: sorted((r.c_id, r.band, r.bkey) for r in df.collect())
    before = key(AI.read_index(spark, idx, dedup=True))
    assert len(before) == n * 8  # bands=8, one key per band

    # crash injection: suppress the folded-dir deletion (step 3)
    monkeypatch.setattr(store.shutil, "rmtree", lambda *a, **k: None)
    assert AI.compact_lsh_index(spark, idx) == 2
    monkeypatch.undo()

    root = pathlib.Path(idx)
    batch_dirs = [d for d in root.iterdir() if d.name.startswith("batch=")]
    assert len(batch_dirs) == 3  # new base + both undeleted folded dirs

    # reader in the crash window: physical duplicates, logical identity
    assert AI.read_index(spark, idx).count() == 2 * n * 8
    assert key(AI.read_index(spark, idx, dedup=True)) == before

    # next compaction folds base + stale dirs into a fresh base and heals
    assert AI.compact_lsh_index(spark, idx) == 3
    batch_dirs = [d for d in root.iterdir() if d.name.startswith("batch=")]
    assert len(batch_dirs) == 1
    assert AI.read_index(spark, idx).count() == n * 8  # no dedup needed
    assert key(AI.read_index(spark, idx, dedup=True)) == before


def test_streaming_dedup_index_equals_batch_pairs(spark, sf_dir, tmp_path_factory):
    """Dedup-at-ingest: documents arriving as a stream (one micro-batch
    per file) must, across all per-batch dup outputs, find EXACTLY the
    near-dup pairs the one-shot batch path finds on the full corpus —
    including pairs that straddle a batch boundary."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.dedup import minhash_dedup_pairs
    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.dedup_index import streaming_dedup_index

    root = tmp_path_factory.mktemp("dedupidx")
    src, idx, ckpt, dups = f"{root}/src", f"{root}/index", f"{root}/ckpt", f"{root}/dups"

    docs = load_table(spark, sf_dir, "documents")
    # two arrival waves; near-dup pairs exist across the even/odd split
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src, mode="append")
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(src, mode="append")

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = streaming_dedup_index(stream, idx, ckpt, dups, threshold=0.8)
    q.awaitTermination(180)

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(dups).select("id_a", "id_b", "jaccard").collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert got == want and len(want) > 0


def test_dedup_index_replay_idempotent_and_cap(spark, sf_dir, tmp_path_factory):
    """At-least-once replay of a batch (crash after upsert) must
    reproduce the identical dup set and index slice — the detect step
    excludes the in-flight batch id from its index read, and every write
    is dynamic-partition overwrite. The counts/ rollup must also apply
    the bucket cap across batches (a bucket filled by MANY batches is
    still dropped)."""
    import pyspark.sql.functions as F

    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.dedup_index import (
        near_dups_against_index,
        upsert_dedup_index_batch,
    )

    idx = str(tmp_path_factory.mktemp("dedupidx_replay") / "index")
    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    upsert_dedup_index_batch(b0, 0, idx)
    first = {
        (r.id_a, r.id_b)
        for r in near_dups_against_index(spark, idx, b1, exclude_batch=1).collect()
    }
    upsert_dedup_index_batch(b1, 1, idx)
    n_rows = spark.read.parquet(f"{idx}/bands").count()

    # replay batch 1: crash-after-upsert means the index already holds
    # batch=1 when detect re-runs — identical output, identical index
    replay = {
        (r.id_a, r.id_b)
        for r in near_dups_against_index(spark, idx, b1, exclude_batch=1).collect()
    }
    upsert_dedup_index_batch(b1, 1, idx)
    assert replay == first
    assert spark.read.parquet(f"{idx}/bands").count() == n_rows

    # cross-batch CONTENT-BASED cap (round 5): with max_bucket=1 every
    # bucket shared by two DISTINCT contents is over cap, so all
    # cross-content pairs drop — but exact-copy pairs survive via the
    # content-hash channel (batch-path semantics: duplicate mass can
    # never cost the index its own target pairs). The surviving set is
    # exactly the content-hash-equal pairs touching the probing batch.
    capped = {
        (r.id_a, r.id_b)
        for r in near_dups_against_index(
            spark, idx, b1, exclude_batch=1, max_bucket=1
        ).collect()
    }
    ch = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.md5("text").alias("ch")
    )
    want_exact = {
        (r.ia, r.ib)
        for r in ch.selectExpr("doc_id AS ia", "ch")
        .join(ch.selectExpr("doc_id AS ib", "ch"), "ch")
        .filter("ia < ib AND (ia % 2 = 1 OR ib % 2 = 1)")
        .collect()
    }
    assert capped == want_exact
    # and the cap is LOUD: the saturation report shows every multi-
    # content bucket over the cap
    from bearly_spark.streaming.dedup_index import dedup_index_saturation_report

    rep = dedup_index_saturation_report(spark, idx, max_bucket=1).collect()[0]
    assert rep.n_buckets > 0 and rep.max_distinct_contents >= 1


def test_dedup_index_compaction_equivalence_and_crash_window(
    spark, sf_dir, tmp_path_factory, monkeypatch
):
    """Compacting the dedup index must not change detect answers, must
    fold to one base partition per dataset, and a crash that skips the
    folded-dir deletion must degrade to duplicates-on-disk that every
    reader tolerates (candidate pairs dedup'd; cap only over-triggers)."""
    import pathlib

    import pyspark.sql.functions as F

    import bearly_spark.streaming.dedup_index as DI
    import bearly_spark.streaming.store as store
    from bearly_spark.sources.tables import load_table

    idx = str(tmp_path_factory.mktemp("dedupidx_compact") / "index")
    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    probe = docs.filter(F.col("doc_id") % 3 == 2)

    DI.upsert_dedup_index_batch(b0, 0, idx)
    DI.upsert_dedup_index_batch(b1, 1, idx)
    key = lambda df: sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())
    before = key(DI.near_dups_against_index(spark, idx, probe, exclude_batch=2))

    assert DI.compact_dedup_index(spark, idx) == 2
    for name in ("bands", "sets", "counts"):
        dirs = [
            d
            for d in pathlib.Path(idx, name).iterdir()
            if d.is_dir() and d.name.startswith("batch=")
        ]
        assert len(dirs) == 1, (name, dirs)
    assert key(DI.near_dups_against_index(spark, idx, probe, exclude_batch=2)) == before
    assert DI.compact_dedup_index(spark, idx) == 0  # already compact

    # ingestion continues after compaction; next compaction folds base+new
    DI.upsert_dedup_index_batch(probe, 2, idx)
    after_ingest = key(
        DI.near_dups_against_index(spark, idx, probe, exclude_batch=2)
    )
    assert after_ingest == before  # probing its own indexed copy is excluded

    # crash injection: suppress folded-dir deletion -> duplicates on disk
    monkeypatch.setattr(store.shutil, "rmtree", lambda *a, **k: None)
    assert DI.compact_dedup_index(spark, idx) == 2
    monkeypatch.undo()
    mid = key(DI.near_dups_against_index(spark, idx, probe, exclude_batch=2))
    assert mid == before  # readers unharmed by the duplicate window
    assert DI.compact_dedup_index(spark, idx) == 3  # heals: base + 2 stale
    assert key(DI.near_dups_against_index(spark, idx, probe, exclude_batch=2)) == before


def test_dedup_index_empty_batch_and_custom_id_and_big_batch(
    spark, sf_dir, tmp_path_factory
):
    """Three round-5 hardening paths in one index lifecycle: (a) an
    all-null-text micro-batch writes NOTHING (a data-less dataset root
    used to wedge every later read with UNABLE_TO_INFER_SCHEMA —
    round-4 ADVICE, verified empirically); (b) a non-default id column
    flows through banding, upsert and detect (out_id used to pin
    'doc_id'); (c) a batch over the broadcast guard threshold falls
    back to shuffle joins and still finds the identical pairs."""
    import pyspark.sql.functions as F

    import bearly_spark.streaming.dedup_index as DI
    from bearly_spark.sources.tables import load_table

    idx = str(tmp_path_factory.mktemp("dedupidx_r5") / "index")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("page_id"), "text")
    )

    # (a) empty banding table: all texts null -> no writes, no wedge
    nulls = docs.limit(5).select("page_id", F.lit(None).cast("string").alias("text"))
    DI.upsert_dedup_index_batch(nulls, 0, idx, id_col="page_id")
    import pathlib

    assert not pathlib.Path(idx, "bands").exists()

    # (b) custom id column end-to-end
    b0 = docs.filter(F.col("page_id") % 2 == 0)
    b1 = docs.filter(F.col("page_id") % 2 == 1)
    DI.upsert_dedup_index_batch(b0, 1, idx, id_col="page_id")
    base = {
        (r.id_a, r.id_b)
        for r in DI.near_dups_against_index(
            spark, idx, b1, id_col="page_id", exclude_batch=2
        ).collect()
    }
    assert len(base) > 0

    # detect still healthy after the null batch wrote nothing
    # (c) broadcast guard: force the shuffle-join path for the same
    # batch; pairs must be identical (plan changes, answers don't)
    big = {
        (r.id_a, r.id_b)
        for r in DI.near_dups_against_index(
            spark,
            idx,
            b1,
            id_col="page_id",
            exclude_batch=2,
            broadcast_max_rows=1,
        ).collect()
    }
    assert big == base


def test_ivf_index_build_query_upsert_compact(spark, sf_dir, tmp_path_factory):
    """Persisted IVF index lifecycle (round 5): (a) build-then-query
    equals the one-shot ``ivf_ann_topk`` at the same operating point
    (same seeded fit, same stable probe ranking, same rerank); (b) the
    probed scan is PARTITION-pruned (cell dirs never listed); (c) a
    frozen-centroid upsert makes new vectors retrievable, replays
    idempotently, and compaction folds batches without changing
    answers."""
    import pathlib

    import pyspark.sql.functions as F

    import bearly_spark.streaming.ivf_index as IVF
    from bearly_spark.operators.similarity import ivf_ann_topk
    from bearly_spark.sources.tables import load_table

    idx = str(tmp_path_factory.mktemp("ivfidx") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    key = lambda rows: sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rn) for r in rows
    )

    # (a) build on the full corpus == one-shot batch path
    IVF.build_ivf_index(emb, idx, n_cells=24, sample_by="id")
    via_index = IVF.ivf_index_query(spark, idx, queries, k=10, n_probe=6)
    batch = ivf_ann_topk(
        emb, queries, k=10, n_cells=24, n_probe=6, sample_by="id"
    ).collect()
    assert key(via_index.collect()) == key(batch)

    # (b) cell partition pruning visible in the plan
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # (c) frozen-centroid upsert on a DISJOINT id range; new ids are
    # retrievable, replay is idempotent, compaction answer-preserving
    n = emb.count()
    shifted = emb.select(
        (F.col("vec_id") + n).alias("vec_id"), "embedding"
    )
    IVF.upsert_ivf_batch(shifted, 0, idx)
    rows_once = spark.read.parquet(f"{idx}/cells").count()
    after = key(IVF.ivf_index_query(spark, idx, queries, k=10, n_probe=6).collect())
    # each original vector's exact copy (cosine 1.0) now exists -> the
    # shifted twin of the query itself must appear among its neighbors
    got_pairs = {(q, c) for q, c, _, _ in after}
    for qid in (0, 1, 2):
        assert (qid, qid + n) in got_pairs
    IVF.upsert_ivf_batch(shifted, 0, idx)  # at-least-once replay
    assert spark.read.parquet(f"{idx}/cells").count() == rows_once
    assert key(IVF.ivf_index_query(spark, idx, queries, k=10, n_probe=6).collect()) == after

    assert IVF.compact_ivf_index(spark, idx) == 2
    dirs = [
        d
        for d in pathlib.Path(idx, "cells").iterdir()
        if d.is_dir() and d.name.startswith("batch=")
    ]
    assert len(dirs) == 1
    assert key(IVF.ivf_index_query(spark, idx, queries, k=10, n_probe=6).collect()) == after
    assert IVF.compact_ivf_index(spark, idx) == 0


def test_flat_ivfpq_index_probing_every_cell_equals_inline_pq(spark, sf_dir, tmp_path_factory):
    """The two PQ paths share one fit sample, one PQ coder, one ADC
    scorer and one exact rerank: a flat IVF-PQ index probed at every
    cell scans every code, so its answer must be exactly the one-shot
    ``pq_ann_topk`` at the same codebook point."""
    import pyspark.sql.functions as F

    import bearly_spark.streaming.ivf_index as IVF
    from bearly_spark.operators.similarity import pq_ann_topk
    from bearly_spark.sources.tables import load_table

    idx = str(tmp_path_factory.mktemp("ivfpq_flat") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    key = lambda rows: sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rn) for r in rows
    )

    IVF.build_ivfpq_index(emb, idx, n_cells=8, m=16, ksub=16, sample_by="id")
    via_index = IVF.ivfpq_index_query(spark, idx, queries, k=10, n_probe=8, rerank=100)
    inline = pq_ann_topk(emb, queries, k=10, m=16, ksub=16, rerank=100, sample_by="id")
    got = key(via_index.collect())
    assert len(got) == 50
    assert got == key(inline.collect())


def test_dedup_index_heals_dataless_roots_and_empty_report(
    spark, sf_dir, tmp_path_factory
):
    """The healing half of the round-5 empty-batch fix: an index whose
    dataset roots exist but hold no parquet (e.g. written by a
    pre-round-5 build's empty batch, or an interrupted first write)
    must read as EMPTY — detect still answers (within-batch pairs
    only), instead of throwing UNABLE_TO_INFER_SCHEMA forever. The
    saturation report on a missing/data-less index returns its zero
    row rather than erroring."""
    import os

    import pyspark.sql.functions as F

    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.dedup_index import (
        dedup_index_saturation_report,
        near_dups_against_index,
    )

    idx = str(tmp_path_factory.mktemp("dedupidx_heal") / "index")
    for name in ("bands", "sets", "counts"):
        os.makedirs(f"{idx}/{name}")
        open(f"{idx}/{name}/_SUCCESS", "w").close()

    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    got = {
        (r.id_a, r.id_b)
        for r in near_dups_against_index(spark, idx, b1, exclude_batch=0).collect()
    }
    # equals the batch path restricted to within-b1 pairs
    from bearly_spark.operators.dedup import minhash_dedup_pairs

    want = {
        (r.id_a, r.id_b) for r in minhash_dedup_pairs(b1, "doc_id", "text").collect()
    }
    assert got == want

    rep = dedup_index_saturation_report(spark, idx).collect()[0]
    assert (rep.n_buckets, rep.over_cap_buckets, rep.max_distinct_contents) == (0, 0, 0)


def test_streaming_ivf_index_ingest(spark, sf_dir, tmp_path_factory):
    """The streaming face of the IVF index: vectors arriving as a
    stream (one micro-batch per file) are assigned against the frozen
    centroids and become retrievable — equal to upserting the same rows
    directly."""
    import pyspark.sql.functions as F

    import bearly_spark.streaming.ivf_index as IVF
    from bearly_spark.sources.tables import load_table

    root = tmp_path_factory.mktemp("ivfstream")
    src, idx, ckpt = f"{root}/src", f"{root}/index", f"{root}/ckpt"

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    IVF.build_ivf_index(emb, idx, n_cells=24, sample_by="id")

    shifted = emb.select((F.col("vec_id") + n).alias("vec_id"), "embedding")
    shifted.filter(F.col("vec_id") % 2 == 0).write.parquet(src, mode="append")
    shifted.filter(F.col("vec_id") % 2 == 1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema(shifted.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = IVF.streaming_ivf_index(stream, idx, ckpt)
    q.awaitTermination(120)

    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.count() == 2 * n  # base + streamed copies, no dups
    queries = emb.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.neighbor_id)
        for r in IVF.ivf_index_query(spark, idx, queries, k=10, n_probe=6).collect()
    }
    for qid in (0, 1, 2):  # each query's streamed exact copy is found
        assert (qid, qid + n) in got


def test_cdc_apply_stream_equals_sequential_merges(spark, sf_dir, tmp_path_factory):
    """CDC apply at ingest: a change stream (upserts + deletes, two
    micro-batches) folded into a parquet table equals applying the same
    batches through the batch CDC path in order; replaying the final
    batch is a no-op (foreachBatch at-least-once safety)."""
    import shutil

    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.cdc import apply_cdc_batch, cdc_apply_stream

    base = tmp_path_factory.mktemp("cdc")
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    streamed, batched = str(base / "streamed"), str(base / "batched")
    od.repartitionByRange(4, "o_orderkey").write.parquet(streamed)
    od.repartitionByRange(4, "o_orderkey").write.parquet(batched)

    # batch 0: update 5 rows + delete 3; batch 1: delete one of the
    # updated keys, re-insert a deleted one, intra-batch d-then-u churn
    keys = [r[0] for r in od.limit(9).collect()]
    b0 = spark.createDataFrame(
        [(k, "U0", 1.0, "u", 10) for k in keys[:5]]
        + [(k, None, None, "d", 10) for k in keys[5:8]],
        "o_orderkey long, o_orderstatus string, o_totalprice double, op string, ts long",
    )
    b1 = spark.createDataFrame(
        [
            (keys[0], None, None, "d", 20),
            (keys[5], "BACK", 2.0, "u", 20),
            # same key: delete at ts 21, upsert at ts 22 -> nets to upsert
            (keys[8], None, None, "d", 21),
            (keys[8], "CHURN", 3.0, "u", 22),
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double, op string, ts long",
    )

    src = str(base / "changes")
    b0.coalesce(1).write.parquet(src)
    q_schema = spark.read.parquet(src).schema
    b1.coalesce(1).write.mode("append").parquet(src)
    # one file per micro-batch; file order follows write order here
    # (the parquet files sort by name: part-...-<uuid>; force order via dirs)
    shutil.rmtree(src)
    b0.coalesce(1).write.parquet(src)
    q = cdc_apply_stream(
        spark.readStream.schema(q_schema).option("maxFilesPerTrigger", 1).parquet(src),
        streamed,
        str(base / "ckpt"),
        ["o_orderkey"],
    )
    q.awaitTermination(300)
    b1.coalesce(1).write.mode("append").parquet(src)
    q = cdc_apply_stream(
        spark.readStream.schema(q_schema).option("maxFilesPerTrigger", 1).parquet(src),
        streamed,
        str(base / "ckpt"),
        ["o_orderkey"],
    )
    q.awaitTermination(300)

    apply_cdc_batch(spark, batched, b0, ["o_orderkey"])
    apply_cdc_batch(spark, batched, b1, ["o_orderkey"])

    got = spark.read.parquet(streamed)
    want = spark.read.parquet(batched)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # spot semantics: churn key present with the later upsert, dels gone
    row = got.filter(F.col("o_orderkey") == keys[8]).collect()
    assert [(r["o_orderstatus"], r["o_totalprice"]) for r in row] == [("CHURN", 3.0)]
    assert got.filter(F.col("o_orderkey") == keys[0]).count() == 0
    assert got.filter(F.col("o_orderkey") == keys[5]).collect()[0]["o_orderstatus"] == "BACK"

    # replay the last batch: byte-level state may rewrite (touched files
    # get fresh names), row state must not change — snapshot rows first,
    # re-read after (the held `want` plan's file listing goes stale)
    want_rows = sorted(tuple(r) for r in want.collect())
    apply_cdc_batch(spark, batched, b1, ["o_orderkey"])
    again_rows = sorted(tuple(r) for r in spark.read.parquet(batched).collect())
    assert again_rows == want_rows


def test_ivfpq_index_lifecycle_and_pruned_rerank(spark, sf_dir, tmp_path_factory):
    """Persisted IVF-PQ index (round 6): (a) exact sims (rerank on raw
    vectors) with recall above the composed-pruning floor; (b) the codes
    scan is partition-pruned on cell AND the rerank vector lookup is a
    pushed-IN pruned scan of the vecs/ sidecar; (c) frozen-model upsert
    retrieves new ids, replays idempotently; compaction folds both
    datasets without changing answers."""
    import pathlib

    import pyspark.sql.functions as F

    import bearly_spark.streaming.ivf_index as IVF
    from bearly_spark.operators.similarity import brute_force_topk
    from bearly_spark.sources.tables import load_table

    idx = str(tmp_path_factory.mktemp("ivfpq") / "index")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    key = lambda rows: sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rn) for r in rows
    )

    IVF.build_ivfpq_index(emb, idx, n_cells=24, m=16, ksub=16, sample_by="id")
    via = IVF.ivfpq_index_query(spark, idx, queries, k=10, n_probe=6, rerank=100)
    got = via.collect()

    # (a) sims are exact cosines: compare against brute force on shared pairs
    brute = brute_force_topk(emb, queries, k=10).collect()
    bmap = {(r.query_id, r.neighbor_id): r.cosine_sim for r in brute}
    gmap = {(r.query_id, r.neighbor_id): r.cosine_sim for r in got}
    shared = set(bmap) & set(gmap)
    assert shared and all(bmap[p] == gmap[p] for p in shared)
    recalls = [
        len({n for q2, n in gmap if q2 == q} & {n for q2, n in bmap if q2 == q}) / 10
        for q in {q for q, _ in bmap}
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls  # composed pruning floor

    # (b) both pruning levers. The returned plan starts from the
    # candidate localCheckpoint, so the codes scan is asserted on the
    # same scan shape the query builds internally; the rerank's pruned
    # vecs lookup IS in the returned plan (pushed id IN-set).
    cells_scan = spark.read.parquet(f"{idx}/cells").filter(
        F.col("cell").isin([0, 1, 2])
    )
    cplan = cells_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in cplan and "cell" in cplan  # dir pruning
    plan = via._jdf.queryExecution().executedPlan().toString()
    assert "id#" in plan and "INSET" in plan  # vecs scan: pushed id set

    # (c) frozen-model upsert + replay idempotency + compaction
    n = emb.count()
    shifted = emb.select((F.col("vec_id") + n).alias("vec_id"), "embedding")
    IVF.upsert_ivfpq_batch(shifted, 0, idx)
    cells_once = spark.read.parquet(f"{idx}/cells").count()
    vecs_once = spark.read.parquet(f"{idx}/vecs").count()
    after = key(
        IVF.ivfpq_index_query(spark, idx, queries, k=10, n_probe=6, rerank=100).collect()
    )
    got_pairs = {(q, c) for q, c, _, _ in after}
    for qid in (0, 1, 2):  # exact copy shares cell AND codes -> ADC 0 -> retrieved
        assert (qid, qid + n) in got_pairs
    IVF.upsert_ivfpq_batch(shifted, 0, idx)  # at-least-once replay
    assert spark.read.parquet(f"{idx}/cells").count() == cells_once
    assert spark.read.parquet(f"{idx}/vecs").count() == vecs_once
    assert (
        key(IVF.ivfpq_index_query(spark, idx, queries, k=10, n_probe=6, rerank=100).collect())
        == after
    )

    assert IVF.compact_ivfpq_index(spark, idx) == 2
    for ds in ("cells", "vecs"):
        dirs = [
            d
            for d in pathlib.Path(idx, ds).iterdir()
            if d.is_dir() and d.name.startswith("batch=")
        ]
        assert len(dirs) == 1, ds
    assert (
        key(IVF.ivfpq_index_query(spark, idx, queries, k=10, n_probe=6, rerank=100).collect())
        == after
    )
    assert IVF.compact_ivfpq_index(spark, idx) == 0


def test_ivfpq_residual_beats_flat_on_clustered_corpus(spark, tmp_path_factory):
    """Residual encoding's value case: on a clustered corpus (the shape
    real embedding corpora have) the same code budget quantizes the
    small within-cell displacement instead of the raw vector, and
    recall rises strictly — measured 0.84 (flat) -> 1.00 (residual)
    here. The encoding marker routes upserts/queries automatically."""
    import numpy as np

    import bearly_spark.streaming.ivf_index as IVF
    from bearly_spark.operators.similarity import brute_force_topk

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(32, 64)) * 4.0
    rows = [
        (i, [float(x) for x in centers[i % 32] + rng.normal(size=64) * 0.5])
        for i in range(2000)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 5)
    ex = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=10).collect()
    }

    recalls = {}
    for enc in ("flat", "residual"):
        idx = str(tmp_path_factory.mktemp(f"ivfpq_{enc}") / "index")
        IVF.build_ivfpq_index(
            emb, idx, n_cells=32, m=16, ksub=16, sample_by="id", encoding=enc
        )
        assert IVF._read_encoding(spark, idx) == enc
        got = {
            (r.query_id, r.neighbor_id)
            for r in IVF.ivfpq_index_query(
                spark, idx, q, k=10, n_probe=8, rerank=50
            ).collect()
        }
        recalls[enc] = len(ex & got) / len(ex)
    assert recalls["residual"] > recalls["flat"], recalls
    assert recalls["residual"] >= 0.9, recalls


def test_bm25_index_stream_equals_inline_and_compacts(spark, sf_dir, tmp_path_factory):
    """Persisted BM25 inverted index: stream-built (two micro-batches)
    index answers EXACTLY like the inline text.bm25_topk over the same
    corpus; the postings scan is pruned to the query's terms (pushed
    IN-set); replays are idempotent; compaction folds batches without
    changing answers."""
    import pathlib
    import shutil

    import bearly_spark.streaming.bm25_index as BI
    from bearly_spark.operators.text import bm25_topk
    from bearly_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("bm25idx")
    idx = str(base / "index")
    docs = load_table(spark, sf_dir, "documents")
    query = "spark shuffle partition data"
    key = lambda rows: [(r.doc_id, r.score, r.rank) for r in rows]

    # split the corpus into two stream files -> two micro-batches
    half = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    src = base / "src"
    src.mkdir()
    half.coalesce(1).write.parquet(str(src / "a"))
    other.coalesce(1).write.parquet(str(src / "b"))
    for f in list(src.rglob("*.parquet")):
        shutil.move(str(f), str(src / f"{f.parent.name}.parquet"))
    shutil.rmtree(src / "a"), shutil.rmtree(src / "b")

    q = BI.streaming_bm25_index(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        idx,
        str(base / "ckpt"),
    )
    q.awaitTermination(300)

    got = BI.bm25_query_index(spark, idx, query, k=10)
    want = bm25_topk(docs, "doc_id", "text", query, k=10).collect()
    assert key(got.collect()) == key(want)

    # pruned postings scan: the pushed term IN reaches the parquet scan
    # (small term sets push as In(term, [...]); big ones show as INSET)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "In(term" in plan or "term#" in plan and "INSET" in plan

    # replay idempotency: re-upsert batch 1 (dynamic overwrite of its slice)
    rows_before = spark.read.parquet(f"{idx}/postings").count()
    BI.upsert_bm25_batch(other, 1, idx)
    assert spark.read.parquet(f"{idx}/postings").count() == rows_before
    assert key(BI.bm25_query_index(spark, idx, query, k=10).collect()) == key(want)

    # compaction: 2 batch dirs -> 1 base, answers unchanged
    assert BI.compact_bm25_index(spark, idx) == 2
    for ds in ("postings", "docstats"):
        dirs = [
            d
            for d in pathlib.Path(idx, ds).iterdir()
            if d.is_dir() and d.name.startswith("batch=")
        ]
        assert len(dirs) == 1, ds
    assert key(BI.bm25_query_index(spark, idx, query, k=10).collect()) == key(want)
    assert BI.compact_bm25_index(spark, idx) == 0


def test_streaming_expectations_per_batch_reports(spark, sf_dir, tmp_path_factory):
    """Per-micro-batch DQ reports: two batches land as two report
    partitions whose counts equal the batch-level expectations_report;
    a replayed batch overwrites its own slice (no double-counting)."""
    from bearly_spark.operators.quality import (
        expectations_report,
        streaming_expectations,
    )
    from bearly_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("sdq")
    od = load_table(spark, sf_dir, "orders").limit(200)
    a = od.filter(F.col("o_orderkey") % 2 == 0)
    b = od.filter(F.col("o_orderkey") % 2 == 1)
    src = base / "src"
    src.mkdir()
    a.coalesce(1).write.parquet(str(src / "x"))
    import shutil

    for sub, nm in (("x", "a.parquet"),):
        f = next((src / sub).glob("*.parquet"))
        shutil.move(str(f), str(src / nm))
        shutil.rmtree(src / sub)

    rules = {"status_open_or_final": ~F.col("o_orderstatus").isin("O", "F")}
    uniq = {"orderkey_unique": ["o_orderkey"]}
    reports, ck = str(base / "reports"), str(base / "ck")
    q = streaming_expectations(
        spark.readStream.schema(od.schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        reports,
        ck,
        rules,
        uniq,
    )
    q.awaitTermination(300)
    b.coalesce(1).write.parquet(str(base / "y"))
    f = next((base / "y").glob("*.parquet"))
    shutil.move(str(f), str(src / "b.parquet"))
    q = streaming_expectations(
        spark.readStream.schema(od.schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        reports,
        ck,
        rules,
        uniq,
    )
    q.awaitTermination(300)

    got = spark.read.parquet(reports)
    assert got.select("batch").distinct().count() == 2
    want_a = {
        r["rule"]: r["violations"]
        for r in expectations_report(a, rules, uniq).collect()
    }
    got_a = {
        r["rule"]: r["violations"]
        for r in got.filter(F.col("batch") == 0).collect()
    }
    assert got_a == want_a
    total_rows = got.count()
    # replay batch 1's report write: same slice overwritten, not appended
    rep = expectations_report(b, rules, uniq).withColumn("batch", F.lit(1))
    (
        rep.coalesce(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(reports)
    )
    assert spark.read.parquet(reports).count() == total_rows


def test_scd2_apply_stream_and_snapshot_retention(spark, sf_dir, tmp_path_factory):
    """SCD2 at ingest: two change batches streamed into a persisted
    history equal the sequential batch applies; snapshot retention
    drops old versions while the kept ones stay readable."""
    import shutil

    from bearly_spark.operators.maintenance import (
        expire_snapshots,
        list_table_versions,
        scd2_apply,
        snapshot_table,
    )
    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.cdc import scd2_apply_stream

    base = tmp_path_factory.mktemp("scd2s")
    cust = load_table(spark, sf_dir, "customer").limit(300)
    hist = cust.select(
        "c_custkey",
        "c_nationkey",
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    path = str(base / "hist")
    hist.repartitionByRange(4, "c_custkey").write.parquet(path)

    keys, attrs = ["c_custkey"], ["c_nationkey"]
    chg1 = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        ((F.col("c_nationkey") + 1) % 25).alias("c_nationkey"),
        F.to_date(F.lit("1995-01-01")).alias("change_ts"),
    )
    chg2 = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        ((F.col("c_nationkey") + 2) % 25).alias("c_nationkey"),
        F.to_date(F.lit("1998-01-01")).alias("change_ts"),
    )
    src = base / "src"
    src.mkdir()
    chg1.coalesce(1).write.parquet(str(base / "c1"))
    shutil.move(str(next((base / "c1").glob("*.parquet"))), str(src / "a.parquet"))
    q = scd2_apply_stream(
        spark.readStream.schema(chg1.schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        path,
        str(base / "ck"),
        keys,
        attrs,
    )
    q.awaitTermination(300)
    snapshot_table(path)
    chg2.coalesce(1).write.parquet(str(base / "c2"))
    shutil.move(str(next((base / "c2").glob("*.parquet"))), str(src / "b.parquet"))
    q = scd2_apply_stream(
        spark.readStream.schema(chg1.schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        path,
        str(base / "ck"),
        keys,
        attrs,
    )
    q.awaitTermination(300)
    snapshot_table(path)

    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    want = sorted(
        tuple(r)
        for r in scd2_apply(scd2_apply(hist, chg1, keys, attrs), chg2, keys, attrs).collect()
    )
    assert got == want

    snapshot_table(path)  # v3
    assert list_table_versions(path) == [1, 2, 3]
    assert expire_snapshots(path, keep_last=1) == [1, 2]
    assert list_table_versions(path) == [3]
    hist_dir = (base / ".history-hist") / "v3"
    assert spark.read.parquet(str(hist_dir)).count() == len(got)


def test_cdc_batch_respects_partitioned_target(spark, sf_dir, tmp_path_factory):
    """partition_cols threads through the CDC apply: a hive-partitioned
    target keeps its layout (no flat files at the root) and stays
    readable after a batch of upserts + deletes."""
    from pathlib import Path

    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.cdc import apply_cdc_batch

    root = tmp_path_factory.mktemp("cdc_part") / "orders"
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    od.write.partitionBy("o_orderstatus").parquet(str(root))
    keys = [r[0] for r in od.limit(4).collect()]
    batch = spark.createDataFrame(
        [(keys[0], "O", 9.0, "u", 1), (keys[1], None, None, "d", 1)],
        "o_orderkey long, o_orderstatus string, o_totalprice double, op string, ts long",
    )
    apply_cdc_batch(
        spark, str(root), batch, ["o_orderkey"], partition_cols=["o_orderstatus"]
    )
    # no data files directly at the root — layout preserved
    assert not [f for f in Path(root).glob("*.parquet")]
    back = spark.read.parquet(str(root))
    assert back.filter(F.col("o_orderkey") == keys[1]).count() == 0
    row = back.filter(F.col("o_orderkey") == keys[0]).collect()
    assert [(r["o_orderstatus"], r["o_totalprice"]) for r in row] == [("O", 9.0)]


def test_streaming_decontaminate_equals_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """Decontamination at ingest: two micro-batches of vectors produce
    per-batch report partitions whose UNION equals the batch-mode
    kernel over the union (frozen eval set => per-vector score is
    batch-independent); a replayed stream overwrites its own slices
    instead of duplicating."""
    import shutil

    from bearly_spark.operators.similarity import (
        max_cosine_vs_set,
        streaming_decontaminate,
    )
    from bearly_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("sdecon")
    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 17 == 0)
    tr = emb.filter(F.col("vec_id") % 17 != 0)
    a = tr.filter(F.col("vec_id") % 2 == 0)
    b = tr.filter(F.col("vec_id") % 2 == 1)
    src = base / "src"
    src.mkdir()
    for df, nm in ((a, "a"), (b, "b")):
        df.coalesce(1).write.parquet(str(base / nm))
        f = next((base / nm).glob("*.parquet"))
        shutil.move(str(f), str(src / f"{nm}.parquet"))
        shutil.rmtree(base / nm)

    reports, ck = str(base / "reports"), str(base / "ck")
    q = streaming_decontaminate(
        spark.readStream.schema(tr.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        ev,
        reports,
        ck,
        threshold=0.4,
    )
    q.awaitTermination(300)

    got = spark.read.parquet(reports)
    assert got.select("batch").distinct().count() == 2
    want = max_cosine_vs_set(tr, ev, threshold=0.4)
    assert sorted(
        got.select("id", "max_cos", "eval_id", "contaminated").collect()
    ) == sorted(want.collect())
    n_before = got.count()

    # replay from a fresh checkpoint: same report table, no duplicates
    q = streaming_decontaminate(
        spark.readStream.schema(tr.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        ev,
        reports,
        str(base / "ck2"),
        threshold=0.4,
    )
    q.awaitTermination(300)
    spark.catalog.refreshByPath(reports)
    again = spark.read.parquet(reports)
    assert again.count() == n_before
    assert sorted(
        again.select("id", "max_cos", "eval_id", "contaminated").collect()
    ) == sorted(want.collect())


def test_streaming_drift_frozen_baseline_and_replay(spark, sf_dir, tmp_path_factory):
    """Per-batch drift vs a FROZEN baseline: each micro-batch's report
    partition equals the batch-mode drift_report of (baseline, that
    batch); a replay from a fresh checkpoint rewrites its own slices
    without duplication."""
    import shutil

    from bearly_spark.operators.quality import drift_report, streaming_drift
    from bearly_spark.sources.tables import load_table

    base = tmp_path_factory.mktemp("sdrift")
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )
    baseline = od
    b0 = od.filter(F.col("k") % 2 == 0)
    b1 = od.filter(F.col("k") % 2 == 1).withColumn("v", F.col("v") * 1.5)
    src = base / "src"
    src.mkdir()
    for df, nm in ((b0, "a"), (b1, "b")):
        df.coalesce(1).write.parquet(str(base / nm))
        f = next((base / nm).glob("*.parquet"))
        shutil.move(str(f), str(src / f"{nm}.parquet"))
        shutil.rmtree(base / nm)

    reports, ck = str(base / "reports"), str(base / "ck")
    q = streaming_drift(
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        baseline,
        "v",
        reports,
        ck,
        buckets=4,
    )
    q.awaitTermination(300)

    got = spark.read.parquet(reports)
    batches = sorted(r[0] for r in got.select("batch").distinct().collect())
    assert len(batches) == 2
    # each batch report == batch-mode drift_report(baseline, that file's rows)
    per_batch = {}
    for bid in batches:
        rows = got.filter(F.col("batch") == bid).drop("batch").collect()
        per_batch[frozenset((r["bucket"], r["q_after"]) for r in rows)] = rows
    for part in (b0, b1):
        want = drift_report(baseline, part, "v", buckets=4).collect()
        key = frozenset((r["bucket"], r["q_after"]) for r in want)
        assert key in per_batch
        assert sorted(map(tuple, per_batch[key])) == sorted(map(tuple, want))
    n_before = got.count()

    q = streaming_drift(
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        baseline,
        "v",
        reports,
        str(base / "ck2"),
        buckets=4,
    )
    q.awaitTermination(300)
    spark.catalog.refreshByPath(reports)
    assert spark.read.parquet(reports).count() == n_before


def test_streaming_attribution_equals_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """Time-ordered micro-batches: the union of per-batch attributions
    equals the batch-mode operator over the whole stream (cross-batch
    state carries the latest touch); replay from a fresh checkpoint
    rewrites identical slices."""
    import shutil

    from bearly_spark.operators.mining import last_touch_attribution
    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.attribution import streaming_attribution

    base = tmp_path_factory.mktemp("sattrib")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut1 = lo + (hi - lo) // 3
    cut2 = lo + 2 * (hi - lo) // 3
    parts = [
        ev.filter(F.col("ts") <= cut1),
        ev.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2)),
        ev.filter(F.col("ts") > cut2),
    ]
    src = base / "src"
    src.mkdir()
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(str(base / f"p{i}"))
        f = next((base / f"p{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"{i:03d}.parquet"))
        shutil.rmtree(base / f"p{i}")

    out = str(base / "out")
    q = streaming_attribution(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        out,
        str(base / "ck"),
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(f"{out}/attrib")
        .select("user_id", "ts", "event_id", "touch_type", "touch_ts")
        .collect()
    )
    want = last_touch_attribution(
        ev, "user_id", ["ts", "event_id"], "event_type",
        ["view", "click"], "purchase",
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0

    # replay: fresh checkpoint, same source — identical output, no dupes
    q = streaming_attribution(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        out,
        str(base / "ck2"),
    )
    q.awaitTermination(300)
    spark.catalog.refreshByPath(f"{out}/attrib")
    again = (
        spark.read.parquet(f"{out}/attrib")
        .select("user_id", "ts", "event_id", "touch_type", "touch_ts")
        .collect()
    )
    assert sorted(map(tuple, again)) == sorted(map(tuple, want))


def test_cms_ingest_stream_equals_batch_and_replay(spark, tmp_path, sf_dir, monkeypatch):
    """The streamed sketch (per-batch deltas summed) equals the
    batch-built sketch exactly (counter additivity); replaying a batch
    id overwrites its own partition (no double count); compaction
    collapses history without changing the totals — and the summing
    reader stays exact through every compaction hazard: a replay of an
    already-folded batch, a failed compaction write, and the window
    between publishing a base and deleting the folded dirs."""
    import shutil

    import pyspark.sql.functions as F

    from bearly_spark.operators.sketches import cms_build
    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.cms_index import (
        compact_cms_index,
        cms_ingest_stream,
        read_cms,
        upsert_cms_batch,
    )

    od = load_table(spark, sf_dir, "orders").select("o_custkey")
    base = tmp_path / "cms"
    src = base / "src"
    src.mkdir(parents=True)
    for i, part in enumerate(
        (od.filter(F.col("o_custkey") % 3 == r) for r in range(3))
    ):
        part.coalesce(1).write.parquet(str(base / f"w{i}"))
        f = next((base / f"w{i}").glob("*.parquet"))
        shutil.move(str(f), str(src / f"{i}.parquet"))
        shutil.rmtree(base / f"w{i}")

    index_dir, ck = str(base / "idx"), str(base / "ck")
    q = cms_ingest_stream(
        spark.readStream.schema(od.schema).option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        index_dir,
        ck,
        "o_custkey",
    )
    q.awaitTermination(300)

    def totals(df):
        return {(r["row"], r["bucket"]): r["cnt"] for r in df.collect()}

    streamed = totals(read_cms(spark, index_dir))
    batch = totals(cms_build(od, "o_custkey"))
    assert streamed == batch

    # replay batch 0 (same id, same data) -> identical store
    b0 = od.filter(F.col("o_custkey") % 3 == 0)
    upsert_cms_batch(b0, 0, index_dir, "o_custkey")
    assert totals(read_cms(spark, index_dir)) == batch

    # compact -> one partition, same totals
    compact_cms_index(spark, index_dir)
    from pathlib import Path

    sketch = Path(index_dir) / "sketch"
    dirs = list(sketch.glob("batch=*"))
    assert len(dirs) == 1
    assert totals(read_cms(spark, index_dir)) == batch

    # a sketch that has not been written yet reads as zero counters
    assert read_cms(spark, str(base / "unwritten")).count() == 0

    # replay batch 0 AFTER compaction: the base already holds it, so the
    # rewritten batch=0 partition must not count a second time (nor
    # overwrite the base)
    upsert_cms_batch(b0, 0, index_dir, "o_custkey")
    assert totals(read_cms(spark, index_dir)) == batch

    # a failure in the compaction write leaves the store as it was
    from pyspark.sql import DataFrameWriter

    def fail(*a, **k):
        raise RuntimeError("injected compaction write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", fail)
    with pytest.raises(RuntimeError, match="injected"):
        compact_cms_index(spark, index_dir)
    monkeypatch.undo()
    assert totals(read_cms(spark, index_dir)) == batch

    # crash between publishing the new base and deleting the folded
    # dirs: every folded partition is still on disk next to the base
    import bearly_spark.streaming.store as store

    before = sorted(d.name for d in sketch.glob("batch=*"))
    monkeypatch.setattr(store.shutil, "rmtree", lambda *a, **k: None)
    compact_cms_index(spark, index_dir)
    monkeypatch.undo()
    window = sorted(d.name for d in sketch.glob("batch=*"))
    assert set(before) < set(window) and len(window) == len(before) + 1
    assert totals(read_cms(spark, index_dir)) == batch

    # the next compaction heals: one base, same totals
    compact_cms_index(spark, index_dir)
    assert len(list(sketch.glob("batch=*"))) == 1
    assert totals(read_cms(spark, index_dir)) == batch


def test_bloom_ingest_equals_batch_and_replay(spark, tmp_path, sf_dir):
    """Union of per-batch bloom deltas equals the batch-built filter;
    replaying a batch changes nothing; probes agree end-to-end."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.sketches import bloom_build, bloom_probe
    from bearly_spark.sources.tables import load_table
    from bearly_spark.streaming.cms_index import read_bloom, upsert_bloom_batch

    od = load_table(spark, sf_dir, "orders").select("o_custkey")
    idx = str(tmp_path / "bloomidx")
    for r in range(3):
        upsert_bloom_batch(od.filter(F.col("o_custkey") % 3 == r), r, idx, "o_custkey")
    streamed = {r["bit"] for r in read_bloom(spark, idx).collect()}
    batch = {r["bit"] for r in bloom_build(od, "o_custkey").collect()}
    assert streamed == batch
    upsert_bloom_batch(od.filter(F.col("o_custkey") % 3 == 0), 0, idx, "o_custkey")
    assert {r["bit"] for r in read_bloom(spark, idx).collect()} == batch

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    via_index = {
        (r["key"], r["bloom_hit"])
        for r in bloom_probe(read_bloom(spark, idx), cust, "c_custkey").collect()
    }
    via_batch = {
        (r["key"], r["bloom_hit"])
        for r in bloom_probe(bloom_build(od, "o_custkey"), cust, "c_custkey").collect()
    }
    assert via_index == via_batch


def _index_case(spark, sf_dir, idx, kind):
    """Build a two-batch ``kind`` index at ``idx``; return its compactor,
    its dataset names and a function computing its query answers."""
    import shutil

    from bearly_spark.sources.tables import load_table

    if kind == "bm25":
        import bearly_spark.streaming.bm25_index as BI

        docs = load_table(spark, sf_dir, "documents")
        BI.upsert_bm25_batch(docs.filter(F.col("doc_id") % 2 == 0), 0, idx)
        BI.upsert_bm25_batch(docs.filter(F.col("doc_id") % 2 == 1), 1, idx)
        answer = lambda: [
            tuple(r)
            for r in BI.bm25_query_index(
                spark, idx, "spark shuffle partition data", k=10
            ).collect()
        ]
        return BI.compact_bm25_index, ("postings", "docstats"), answer

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 3)
    shifted = emb.select((F.col("vec_id") + n).alias("vec_id"), "embedding")
    if kind in ("ivf", "ivfpq"):
        import bearly_spark.streaming.ivf_index as IVF

        if kind == "ivf":
            IVF.build_ivf_index(emb, idx, n_cells=24, sample_by="id")
            IVF.upsert_ivf_batch(shifted, 0, idx)
            query, compact, names = IVF.ivf_index_query, IVF.compact_ivf_index, ("cells",)
        else:
            IVF.build_ivfpq_index(emb, idx, n_cells=24, m=16, ksub=16, sample_by="id")
            IVF.upsert_ivfpq_batch(shifted, 0, idx)
            query, compact = IVF.ivfpq_index_query, IVF.compact_ivfpq_index
            names = ("cells", "vecs")
        answer = lambda: sorted(
            tuple(r) for r in query(spark, idx, queries, k=10, n_probe=6).collect()
        )
        return compact, names, answer

    from bearly_spark.streaming import semdedup_index as SI

    SI.build_semdedup_index(emb, idx, k=8, iters=1)
    SI.upsert_semdedup_batch(emb.filter(F.col("vec_id") < 250), 0, idx)
    SI.upsert_semdedup_batch(emb.filter(F.col("vec_id") >= 250), 1, idx)
    probe = shifted.filter(F.col("vec_id") < n + 40)

    def answer():
        # the verdicts a probe batch gets against this index, flagged in
        # a copy so the index under test is never written
        copy = f"{idx}-probe"
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(idx, copy)
        SI.upsert_semdedup_batch(probe, 9, copy)
        got = sorted(
            (r.vec_id, r.cell, r.kept)
            for r in SI.semdedup_index_verdicts(spark, copy)
            .filter(F.col("batch") == 9)
            .collect()
        )
        shutil.rmtree(copy)
        return got

    return SI.compact_semdedup_index, ("members",), answer


@pytest.mark.parametrize("kind", ["bm25", "ivf", "ivfpq", "semdedup"])
def test_compaction_crash_window_keeps_answers_and_heals(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    """Every index's compaction, crashed after publishing its new base
    and before deleting the folded dirs, leaves each folded dir on disk
    beside the base: the query answers must be unchanged inside that
    window, and the next compaction must heal it to one base per
    partition with the same answers."""
    from pathlib import Path

    import bearly_spark.streaming.store as store

    idx = str(tmp_path / "index")
    compact, names, answer = _index_case(spark, sf_dir, idx, kind)

    def batch_dirs():
        return {
            name: sorted(d for d in Path(idx, name).rglob("batch=*") if d.is_dir())
            for name in names
        }

    before_dirs = batch_dirs()
    before = answer()
    assert before

    monkeypatch.setattr(store.shutil, "rmtree", lambda *a, **k: None)
    assert compact(spark, idx) == len(before_dirs[names[0]])
    monkeypatch.undo()
    window_dirs = batch_dirs()
    for name in names:
        parents = {d.parent for d in before_dirs[name]}
        new = set(window_dirs[name]) - set(before_dirs[name])
        assert set(before_dirs[name]) < set(window_dirs[name])
        assert {d.parent for d in new} == parents and len(new) == len(parents)
    assert answer() == before

    assert compact(spark, idx) == len(window_dirs[names[0]])
    for name, dirs in batch_dirs().items():
        assert len(dirs) == len({d.parent for d in dirs}), name
        assert all(int(d.name.split("=")[1]) < 0 for d in dirs), name
    assert answer() == before
    assert compact(spark, idx) == 0


def test_cell_first_compaction_crash_between_leaf_renames_keeps_answers_and_heals(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The semantic-dedup members are cell-first
    (``cell=<c>/batch=<b>``), so a compaction publishes one base leaf
    per cell. A crash after the first leaf's rename leaves one cell
    compacted and every other cell on its per-batch dirs: each base's
    folded-batch marker must hide only its own cell's dirs, so no
    member goes missing, and the next compaction heals every cell."""
    from pathlib import Path

    idx = str(tmp_path / "index")
    compact, names, answer = _index_case(spark, sf_dir, idx, "semdedup")
    members = Path(idx, "members")
    before = answer()
    before_rows = spark.read.parquet(str(members)).count()
    cells = sorted(d.name for d in members.glob("cell=*"))
    assert before and len(cells) > 1

    renames = []
    real_rename = Path.rename

    def rename_once(self, target):
        if renames:
            raise RuntimeError("injected crash between leaf renames")
        renames.append(target)
        return real_rename(self, target)

    monkeypatch.setattr(Path, "rename", rename_once)
    with pytest.raises(RuntimeError, match="injected"):
        compact(spark, idx)
    monkeypatch.undo()
    published = {d.parent.name for d in members.glob("cell=*/batch=-*")}
    assert published == {Path(renames[0]).parent.name}
    assert answer() == before

    assert compact(spark, idx) > 0
    for cell in cells:
        dirs = list((members / cell).glob("batch=*"))
        assert len(dirs) == 1 and dirs[0].name.startswith("batch=-"), cell
    assert spark.read.parquet(str(members)).count() == before_rows
    assert answer() == before
