"""Semantic dedup AT INGEST: a persisted SemDeDup index.

The streaming face of ``operators/clustering.py`` — the same contract
shape as the minhash ``dedup_index`` (lexical near-dups at ingest) and
the persisted IVF index (frozen model + cell-directory layout):

- ``build_semdedup_index`` fits integer-grid k-means centroids on a
  fit frame and FREEZES them (quantized int64 centroids on parquet) —
  the cell geometry never moves after build, so ingest assignment is
  deterministic forever;
- ``upsert_semdedup_batch`` assigns one micro-batch to cells map-only,
  probes ONLY the touched cell directories (``cell=`` is the first
  partition level -> directory pruning) for near-duplicates among
  previously-ingested members, flags the batch greedily (earlier
  ingested < earlier-in-batch id), and appends the batch's vectors
  under ``members/cell=<c>/batch=<id>`` plus its verdicts under
  ``verdicts/batch=<id>`` — ``streaming.store`` batch writes, so an
  at-least-once replay rewrites its own slice (idempotent);
- ``compact_semdedup_index`` folds member batch dirs into a fresh base
  per cell (``store.compact``); the probe kernel is duplicate-tolerant
  through the crash window: a duplicated member id changes no verdict
  because identical vectors witness identically.

Exactness: members store the QUANTIZED grid vectors (array<long>), so
the cosine threshold test at probe time is the operator family's exact
rational comparison (den^2*dot^2 >= num^2*nx2*ny2 in python ints) —
bit-identical across replays, compactions and engine versions.

Witness policy: ``witness="all"`` (default) stores every ingested
vector and lets dropped vectors witness later arrivals — with id-ordered
ingestion this makes the stream verdicts EQUAL the batch
``semdedup_flags`` under the same frozen centroids (pinned in
tests/test_clustering_index.py). ``witness="kept"`` stores only kept
representatives (the SemDeDup-paper variant: smaller index, but a
chain a~b, b~c with a!~c keeps c because b's slot was vacated).

100 TB shape: centroids are Theta(k*dim) and model-cached; a batch
touches <= min(|batch|, k) cell dirs and reads nothing else; per-cell
pair work is Sigma(touched cell^2) with the operator family's cap.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from bearly_spark.cache import memo
from bearly_spark.interchange import from_arrow, to_arrow, write_arrow_parquet
from bearly_spark.operators import clustering as C
from bearly_spark.sources.tables import read_parquet
from bearly_spark.streaming.store import (
    Dataset,
    compact,
    distinct,
    drain,
    folded,
    read_batches,
    write_batch,
)


def _members(id_col: str) -> Dataset:
    """members/: quantized vectors, cell-first so a probe's cell filter
    prunes every batch of the untouched cells."""
    return Dataset(
        "members",
        distinct((id_col, "xq", "kept", "cell"), ("cell", id_col)),
        parts=("cell", "batch"),
        order=(id_col,),
        sort=False,
    )


def build_semdedup_index(
    fit_df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    centroids: list[list[int]] | None = None,
) -> list[list[int]]:
    """Fit frozen centroids (seed = k lowest ids of ``fit_df``, then
    ``iters`` integer Lloyd steps) and write them. The index starts
    with NO members — the fit frame is model-only; ingest it as the
    first micro-batch if its vectors should participate in dedup.
    ``centroids`` skips the fit (callers holding the same fit)."""
    cents = (
        C.lloyd_fit(fit_df, id_col, vec_col, k, iters) if centroids is None else centroids
    )
    _write_centroids(fit_df.sparkSession, cents, index_dir)
    return cents


def _write_centroids(spark: SparkSession, cents, index_dir: str) -> None:
    write_arrow_parquet(
        spark,
        pa.table({
            "cell": pa.array(range(len(cents)), pa.int32()),
            "cq": pa.array([list(map(int, cq)) for cq in cents], pa.list_(pa.int64())),
        }),
        f"{index_dir}/centroids",
    )


def build_hier_semdedup_index(
    fit_df: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k1: int = 8,
    k2: int = 8,
    iters: int = 2,
    fanout: int = 8,
) -> None:
    """Fit and freeze the TWO-LEVEL geometry (round 11): coarse
    centroids to ``centroids`` (the flat layout — readable by the same
    reader), the distributed fine frame to ``fine_centroids``, and the
    packing stride + fanout to ``hier_meta``. Ingest assignment then
    routes through :func:`clustering.assign_hierarchical` — the index
    face of semantic dedup past the flat 4096-cell auto-k ceiling.
    Members still land under ``cell=<packed>/batch=<id>`` so probe
    reads prune directories identically."""
    coarse, fine = C.hierarchical_fit(
        fit_df, id_col, vec_col, k1, k2, iters, fanout
    )
    spark = fit_df.sparkSession
    _write_centroids(spark, coarse, index_dir)
    fine.coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/fine_centroids"
    )
    # packing stride = the geometry's actual max fine id + 1 (equals k2
    # unless every coarse cell seeded short) — the batch operator
    # derives the same stride from a frozen frame, so stream and batch
    # agree on every packed cell label
    stride = (fine.agg(F.max("fine")).first()[0] or 0) + 1
    write_arrow_parquet(
        spark,
        pa.table({
            "k2": pa.array([int(stride)], pa.int32()),
            "fanout": pa.array([int(fanout)], pa.int32()),
        }),
        f"{index_dir}/hier_meta",
    )


def _assign_frozen(
    spark: SparkSession, index_dir: str, batch_df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell, dist, xq) under the index's FROZEN geometry — flat
    broadcast assignment, or the two-level path when the index was
    built hierarchical (``fine_centroids`` present)."""
    cents = read_frozen_centroids(spark, index_dir)
    if not os.path.isdir(f"{index_dir}/fine_centroids"):
        return C.assign_clusters(
            batch_df, cents, id_col, vec_col, emit_xq=True
        ).select(id_col, F.col("cluster").alias("cell"), "dist", "xq")
    meta = read_parquet(spark, f"{index_dir}/hier_meta").first()
    fine = read_parquet(spark, f"{index_dir}/fine_centroids")
    return C.assign_hierarchical(
        batch_df, cents, fine, id_col, vec_col,
        k2=int(meta["k2"]), fanout=int(meta["fanout"]),
    ).select(id_col, "cell", "dist", "xq")


def read_frozen_centroids(spark: SparkSession, index_dir: str) -> list[list[int]]:
    if not os.path.isdir(f"{index_dir}/centroids"):
        raise ValueError(
            f"no semdedup index at {index_dir!r}: run build_semdedup_index first "
            "(the cell geometry must be frozen before any batch is ingested)"
        )

    def load():
        rows = read_parquet(spark, f"{index_dir}/centroids").orderBy("cell").collect()
        return [list(r.cq) for r in rows]

    return memo([f"{index_dir}/centroids"], "semdedup-centroids", load)


def _read_members(
    spark: SparkSession, index_dir: str, cells: list[int], exclude_batch: int | None
) -> DataFrame | None:
    """Members of the touched cells only — ``cell`` is the FIRST
    partition level, so this filter prunes whole directories; a replay
    additionally excludes its own batch dirs."""
    df = read_batches(spark, f"{index_dir}/members", exclude_batch=exclude_batch)
    return None if df is None else df.filter(F.col("cell").isin([int(c) for c in cells]))


def upsert_semdedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: tuple[int, int] = (19, 20),
    witness: str = "all",
    max_cell: int = C.MAX_SEMDEDUP_CELL,
) -> None:
    """Flag one micro-batch against everything ingested before it and
    append it to the index. Idempotent under replay: reads exclude
    ``batch=<batch_id>`` and both writes dynamic-overwrite their own
    partitions, so running the same batch twice converges. A replay of
    a batch that compaction has already folded into the members base
    writes nothing: the base holds the batch's own vectors, which would
    witness against themselves and flag the whole batch."""
    num, den = tau
    if not (0 < num <= den):
        raise ValueError(f"tau must be a rational in (0, 1], got {tau}")
    if witness not in ("all", "kept"):
        raise ValueError(f"witness must be 'all' or 'kept', got {witness!r}")
    if folded(_members(id_col).path(index_dir), int(batch_id)):
        return
    spark = batch_df.sparkSession
    assigned = _assign_frozen(spark, index_dir, batch_df, id_col, vec_col)
    assigned = assigned.localCheckpoint(eager=True)  # one kernel pass, reused 2x
    # exact-integer per-cell assignment stats (see the stats write below):
    # sum as DECIMAL(38,0) so corpus-scale batches cannot wrap int64;
    # mean = truncating div (dists are non-negative, so trunc == floor).
    # At most k rows, collected once: they also name the touched cells.
    assigned_stats = to_arrow(
        assigned.groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("dist").cast("decimal(38,0)")).alias("sum_dist"),
            F.max("dist").alias("max_dist"),
        )
        .select(
            "cell",
            "n_vecs",
            F.col("sum_dist").cast("decimal(38,0)").alias("sum_dist"),
            F.expr("CAST(sum_dist div n_vecs AS BIGINT)").alias("mean_dist"),
            "max_dist",
        )
    )
    if not assigned_stats.num_rows:
        return  # empty batch writes NOTHING (the sibling's wedge lesson)
    touched = sorted(assigned_stats["cell"].to_pylist())

    existing = _read_members(spark, index_dir, touched, exclude_batch=int(batch_id))
    new_rows = (
        assigned.withColumn("is_new", F.lit(True))
        .withColumn("kept", F.lit(True))
        .withColumn("batch", F.lit(int(batch_id)))
    )
    if existing is not None:
        # batch carried along so the kernel can order prior members by
        # ARRIVAL precedence (batch, id) when capping the witness pool
        old_rows = existing.select(id_col, "cell", "xq", "kept", "batch").withColumn(
            "is_new", F.lit(False)
        )
        pool = old_rows.unionByName(new_rows.select(*old_rows.columns))
    else:
        pool = new_rows.select(id_col, "cell", "xq", "kept", "batch", "is_new")

    num2, den2 = num * num, den * den
    use_kept_only = witness == "kept"

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        # duplicate-tolerant under the compaction crash window
        old = pdf[~pdf["is_new"]].drop_duplicates(subset=[id_col])
        # arrival precedence: compacted base (batch=-1) first, then
        # batches in ingest order, ids within a batch in the order the
        # kernel processed them (ascending)
        old = old.sort_values(["batch", id_col], kind="mergesort")
        new = (
            pdf[pdf["is_new"]]
            .drop_duplicates(subset=[id_col])
            .sort_values(id_col, kind="mergesort")
            .reset_index(drop=True)
        )
        wit_old = old[old["kept"]] if use_kept_only else old
        # Witness POOL mirrors batch ``semdedup_flags`` (r11, ADVICE):
        # the ``max_cell`` earliest-precedence eligible entries — prior
        # members first (arrival order), then in-batch rows (id order).
        # EVERY new row is tested against the pool entries preceding
        # it; only the POOL truncates past the cap, so per-row work
        # stays <= max_cell dots and verdicts equal the batch greedy on
        # the union under id-ordered ingestion at ANY cell size.
        #
        # ``cell_truncated`` counts ALL members (kept or not) against
        # the cap — the batch kernel's definition — so the flag means
        # the same thing in both witness modes (r11 ADVICE: deriving it
        # from the kept-filtered pool understated truncation under
        # witness="kept"). The kept-mode POOL, by contrast, is
        # DELIBERATELY the first max_cell *eligible* (kept) members:
        # the mode's contract is "dropped vectors never witness", so a
        # dropped member must not occupy a witness slot either.
        truncated = (len(old) + len(new)) > max_cell
        wit_old = wit_old.iloc[: min(len(wit_old), max_cell)]
        pool_new = max(0, max_cell - len(wit_old))  # in-batch slots
        w_mat = (
            np.array(wit_old["xq"].tolist(), dtype=np.int64)
            if len(wit_old)
            else np.zeros((0, 1), dtype=np.int64)
        )
        w_n2 = (
            np.einsum("nd,nd->n", w_mat, w_mat) if len(wit_old) else np.zeros(0, np.int64)
        )
        n_mat = np.array(new["xq"].tolist(), dtype=np.int64)
        n_n2 = np.einsum("nd,nd->n", n_mat, n_mat)
        n_new = len(new)
        kept = np.ones(n_new, dtype=bool)

        def _exact_hit(d: int, wn2_i: int, nx2_j: int) -> bool:
            return d > 0 and den2 * d * d >= num2 * wn2_i * nx2_j

        # Blockwise strips (one matmul per ~1024 new rows instead of one
        # matvec per row), same memory discipline as the batch kernel:
        # peak is O(block * min(members, max_cell)), never members^2.
        _B = 1024
        hit = np.zeros(n_new, dtype=bool)
        if len(wit_old) and n_new:
            # phase 1: vs the pooled previously-ingested members
            # (arrival precedence — NO id comparison; every pooled old
            # member witnesses every new row)
            for lo in range(0, n_new, _B):
                hi = min(lo + _B, n_new)
                gram = n_mat[lo:hi] @ w_mat.T
                fl = float(den2) * gram.astype(np.float64) ** 2
                # float64 BEFORE the product (int64 outer wraps at 2^63)
                fr = float(num2) * np.outer(
                    n_n2[lo:hi].astype(np.float64), w_n2.astype(np.float64)
                )
                for j in range(lo, hi):
                    b = j - lo
                    for i in np.nonzero(
                        (gram[b] > 0) & (fl[b] >= fr[b] * (1 - 1e-9))
                    )[0]:
                        if _exact_hit(int(gram[b, i]), int(w_n2[i]), int(n_n2[j])):
                            hit[j] = True
                            break
        # phase 2: vs earlier-in-batch rows holding one of the
        # ``pool_new`` remaining pool slots; under witness="kept" only
        # rows still kept at their turn witness, so iterate j in order
        # — prior blocks' flags are final
        w_new = min(n_new, pool_new)  # in-batch witness pool width
        for lo in range(0, n_new, _B):
            hi = min(lo + _B, n_new)
            whi = min(hi, w_new)
            if whi:
                gram = n_mat[lo:hi] @ n_mat[:whi].T
                fl = float(den2) * gram.astype(np.float64) ** 2
                fr = float(num2) * np.outer(
                    n_n2[lo:hi].astype(np.float64), n_n2[:whi].astype(np.float64)
                )
            for j in range(lo, hi):
                kept[j] = not hit[j]
                if hit[j] or j == 0 or not whi:
                    continue
                b = j - lo
                lim = min(j, w_new)  # earlier-in-batch, pool-capped
                cand = np.nonzero(
                    (gram[b, :lim] > 0) & (fl[b, :lim] >= fr[b, :lim] * (1 - 1e-9))
                )[0]
                for i in cand:
                    if use_kept_only and not kept[i]:
                        continue
                    if _exact_hit(int(gram[b, i]), int(n_n2[i]), int(n_n2[j])):
                        kept[j] = False
                        break
        return pd.DataFrame(
            {
                id_col: new[id_col].to_numpy(),
                "cell": new["cell"].to_numpy(),
                "xq": new["xq"],
                "kept": kept,
                "cell_truncated": np.full(n_new, truncated),
            }
        )

    verdicts = pool.groupBy("cell").applyInPandas(
        per_cell,
        schema=f"{id_col} long, cell int, xq array<long>, kept boolean, cell_truncated boolean",
    )
    verdicts = verdicts.localCheckpoint(eager=True)  # two writers below

    members = verdicts.select(id_col, "cell", "xq", "kept")
    if use_kept_only:
        members = members.filter(F.col("kept"))
    _members(id_col).write(members.repartition(len(touched), "cell"), batch_id, index_dir)
    write_batch(
        verdicts.select(id_col, "cell", "kept", "cell_truncated").coalesce(1),
        batch_id,
        f"{index_dir}/verdicts",
    )
    # per-batch per-cell assignment stats — the drift signal for the
    # FROZEN geometry: when arriving data wanders off the build-time
    # distribution, mean distance-to-centroid rises batch over batch
    # (the operational cue to refit + rebuild). Exact integers: count,
    # floored mean, max of the kernel's int64 distances.
    write_batch(from_arrow(spark, assigned_stats).coalesce(1), batch_id, f"{index_dir}/stats")


def semdedup_index_verdicts(spark: SparkSession, index_dir: str) -> DataFrame:
    """All per-batch verdicts: (id, cell, kept, cell_truncated, batch)."""
    return read_parquet(spark, f"{index_dir}/verdicts")


def semdedup_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-(batch, cell) assignment stats — the frozen-geometry drift
    log: (cell, n_vecs, sum_dist, mean_dist, max_dist, batch). A rising
    mean_dist across batches means arrivals are drifting away from the
    build-time distribution and the geometry wants a refit+rebuild.
    sum_dist is a mergeable partial: re-aggregate across batches for
    any window."""
    return read_parquet(spark, f"{index_dir}/stats")


def streaming_semdedup_index(
    vecs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: tuple[int, int] = (19, 20),
    witness: str = "all",
    max_cell: int = C.MAX_SEMDEDUP_CELL,
) -> StreamingQuery:
    """Start the semantic-dedup-at-ingest stream (availableNow drains
    the backlog and stops). The index must already be built (frozen
    centroids present)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        upsert_semdedup_batch(
            batch_df, batch_id, index_dir, id_col, vec_col, tau, witness, max_cell
        )

    return drain(vecs, checkpoint_dir, process)


def compact_semdedup_index(
    spark: SparkSession, index_dir: str, id_col: str = "vec_id"
) -> int:
    """Fold every ``members/cell=*/batch=*`` dir into one new base batch
    per cell (``store.compact``); verdicts stay per-batch (they ARE the
    audit log). Returns the number of batch dirs folded."""
    return compact(spark, index_dir, [_members(id_col)])
