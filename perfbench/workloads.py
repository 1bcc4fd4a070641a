"""The benchmark's workloads: what one pass calls, and how the outputs
are checked after the timed passes.

A workload is a list of calls per pass. Each call runs one or more
steps, and each step is one call into a layer of the program, named
``<layer>.<what>`` (``registry.build``, ``sources.txlog.merge``, ...).
A closed-loop client runs the calls one at a time, each waiting for its
result before the next starts.
"""

from __future__ import annotations

import random
import sys
import time
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: Executor-bound: few table loads against large scans, shuffles, an
#: aggregate below a join and a semi-join, so the ``noop`` action
#: dominates each call.
RELATIONAL = ["q3_shipping_priority", "q4_order_priority_check"]

#: Bound by the Spark driver: an on-disk index build, an in-process fit cache, a
#: driver-side result cache and two Python-worker paths.
LLM = [
    "percentiles_lineitem", "semdedup_index_query", "kmeans_clusters_embeddings",
    "pandas_udf_charge", "udtf_tokenize_docs",
]

#: ``ingest_write`` compacts the table on every this-many-th pass.
COMPACT_EVERY = 2


@dataclass
class Context:
    """What a workload needs from the run: the session, the run's
    fixture directory, its own scratch directory and the tracer."""

    spark: object
    fixture: Path
    work: Path
    tracer: object
    seed: int


class Step:
    """Times one call into a layer and records it as a span."""

    def __init__(self, ctx: Context, times: dict[str, float]):
        self.ctx, self.times = ctx, times

    def __call__(self, key: str, fn, *args, **kwargs):
        with self.ctx.tracer.span(key, key.split(".")[0]):
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            self.times[key] = self.times.get(key, 0.0) + time.perf_counter() - t
        return out


@dataclass
class RegistryWorkload:
    """Registry queries: build the frame (``registry``), then execute it
    with a ``noop`` write (``action``). The seed shuffles each warm pass's
    call order."""

    name: str
    queries: list[str]
    tables: list[str]
    scale: float
    replicas: int
    pass_s: float
    builds_index: bool

    def prepare(self, ctx: Context) -> None:
        from bearly_spark.registry import QUERIES

        self._queries = QUERIES

    def calls(self, ctx: Context, pass_index: int) -> list[tuple[str, object]]:
        # The cold pass keeps the declared order: its first call absorbs the
        # JVM's warm-up, and the cold total depends on which call that is.
        order = list(self.queries)
        if pass_index:
            random.Random(ctx.seed * 1009 + pass_index).shuffle(order)
        return [(q, self._call(q)) for q in order]

    def layer_metrics(self, passes: list[dict]) -> dict[str, float]:
        return {}

    def _call(self, query: str):
        def run(ctx: Context, step: Step) -> None:
            df = step("registry.build", self._queries[query], ctx.spark, str(ctx.fixture))
            step("action.noop", lambda: df.write.format("noop").mode("overwrite").save())
        return run

    def verify(self, ctx: Context) -> tuple[int, list[str]]:
        """Compare each query's result with its DuckDB twin on the same
        fixture. Returns (checks made, failures)."""
        import os

        import duckdb
        from bearly_spark.registry import ORACLE

        os.environ["BEARLY_ORACLE_SF_DIR"] = str(ctx.fixture)
        con = duckdb.connect()
        try:
            for f in sorted(ctx.fixture.glob("*.parquet")):
                con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
            failures = []
            for q in self.queries:
                try:
                    df = self._queries[q](ctx.spark, str(ctx.fixture))
                    spark_rows = [tuple(r) for r in df.collect()]
                    oracle = ORACLE[q]
                    rel = con.sql(oracle() if callable(oracle) else oracle)
                    if not rows_match(q, df.columns, spark_rows, rel.columns, rel.fetchall()):
                        failures.append(f"{q}: result differs from its DuckDB twin")
                except Exception as e:  # a failed query is a counted failure
                    failures.append(f"{q}: {type(e).__name__}: {e}")
            return len(self.queries), failures
        finally:
            con.close()


def rows_match(query: str, spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    """The oracle gate's comparison (``tools/check_oracle.py``): same
    columns and the same rows in any order, compared raw unless the
    query is on the gate's allowlist. An empty result never matches."""
    root = str(Path(__file__).resolve().parent.parent / "tools")
    if root not in sys.path:
        sys.path.insert(0, root)
    import check_oracle

    strict = query not in check_oracle.RISKY_TYPE_ALLOWLIST
    spark = check_oracle._norm_rows(list(spark_cols), spark_rows, strict=strict)
    duck = check_oracle._norm_rows(list(duck_cols), duck_rows, strict=strict)
    return spark == duck and bool(spark[1])


@dataclass
class IngestWorkload:
    """Seeded Arrow batches through the reference surface
    (``from_arrow`` -> ``sum_int64`` -> ``to_arrow``) and into one
    commit-log table: append, merge, delete, periodic compaction, then
    reads with a skipping predicate, time travel and the change feed.
    Every pass adds the same commits, so table state grows by a fixed
    number of commits per run. Call order is fixed (each call depends
    on the last); the seed sets the batch contents."""

    name: str
    rows: int
    pass_s: float
    scale: float = 0.0  # no generated fixture
    observed: list = field(default_factory=list)

    def _span(self, p: int) -> int:
        return p * 10 * self.rows

    def batch(self, seed: int, p: int) -> pa.Table:
        rng = np.random.default_rng([seed, p])
        n = self.rows
        return pa.table({
            "id": np.arange(self._span(p), self._span(p) + n, dtype=np.int64),
            "key": rng.integers(0, 1_000_000, n),
            "val": rng.integers(-1_000_000, 1_000_000, n),
            "score": rng.random(n),
        })

    def delta(self, seed: int, p: int) -> pa.Table:
        """Updates for 10% of the pass's ids plus 5% new ids."""
        b = self.batch(seed, p)
        upd = b.slice(self.rows // 4, self.rows // 10)
        upd = upd.set_column(2, "val", pc.add(upd["val"], 7))
        new = b.slice(0, self.rows // 20)
        new = new.set_column(0, "id", pc.add(new["id"], self.rows))
        return pa.concat_tables([upd, new])

    def zone(self, p: int) -> tuple[int, int]:
        return self._span(p), self._span(p) + 2 * self.rows - 1

    def doomed(self, p: int) -> tuple[int, int]:
        lo = self._span(p) + self.rows // 2
        return lo, lo + self.rows // 10 - 1

    def prepare(self, ctx: Context) -> None:
        self.table = ctx.work / "txlog_table"
        self.arrow_bytes = 0

    def calls(self, ctx: Context, pass_index: int) -> list[tuple[str, object]]:
        from bearly_spark import from_arrow, sum_int64, to_arrow
        from bearly_spark.sources import txlog

        p, spark, path = pass_index, ctx.spark, str(self.table)
        state: dict = {}
        batch, delta = self.batch(ctx.seed, p), self.delta(ctx.seed, p)
        self.arrow_bytes += batch.nbytes + delta.nbytes
        where = {"id": self.zone(max(p - 1, 0))}
        stats = ["id"]
        seen: dict = {"pass": p}
        self.observed.append(seen)

        def sum_batch(ctx, step):
            state["version0"] = txlog.latest_version(path) if p else 0
            state["df"] = step("interchange.from_arrow", from_arrow, spark, batch)
            sums = step("operators.sum_int64", sum_int64, state["df"])
            seen["sums"] = step("interchange.to_arrow", to_arrow, sums).to_pylist()

        def append(ctx, step):
            step("sources.txlog.append", txlog.write_table, state["df"], path,
                 mode="append", stats_cols=stats)

        def merge(ctx, step):
            d = step("interchange.from_arrow", from_arrow, spark, delta)
            step("sources.txlog.merge", txlog.merge_into_table, spark, path, d, ["id"],
                 prune={"id": self.zone(p)}, stats_cols=stats)

        def delete(ctx, step):
            step("sources.txlog.delete", txlog.delete_where, spark, path,
                 {"id": self.doomed(p)}, stats_cols=stats)

        def compact(ctx, step):
            step("sources.txlog.compact", txlog.compact, spark, path, 2,
                 stats_cols=stats, order_by=["id"])

        def plan(ctx, step):
            files, total = step("sources.txlog.plan", txlog.plan_files, path, where=where)
            seen["planned"], seen["live"] = len(files), total

        def read(ctx, step):
            def skipping():
                df = txlog.read_table(spark, path, where=where)
                return df.selectExpr("count(*) AS n", "coalesce(sum(val), 0) AS s").collect()[0]

            def time_travel():
                if not state["version0"]:
                    return 0
                return txlog.read_table(spark, path, version=state["version0"]).count()

            def changes():
                df = txlog.read_changes(spark, path, from_version=state["version0"])
                counts = {r[0]: r[1] for r in df.groupBy("_change_type").count().collect()}
                return counts.get("insert", 0) - counts.get("delete", 0)

            seen["read"] = tuple(step("sources.txlog.read", skipping))
            seen["time_travel"] = step("sources.txlog.read", time_travel)
            seen["net"] = step("sources.txlog.read", changes)

        out = [("sum_batch", sum_batch), ("append", append), ("merge", merge),
               ("delete", delete)]
        if p % COMPACT_EVERY == COMPACT_EVERY - 1:
            out.append(("compact", compact))
        return out + [("plan", plan), ("read", read)]

    def layer_metrics(self, passes: list[dict]) -> dict[str, float]:
        """Ingest throughput, the share of live files a skipping read
        plans, and data bytes written per Arrow byte ingested, over the
        whole run."""
        from_arrow = sum(steps.get("interchange.from_arrow", 0.0)
                         for rec in passes for steps in rec["steps"].values())
        kept = [(o["planned"], o["live"]) for o in self.observed if "planned" in o]
        written = sum(f.stat().st_size for f in self.table.rglob("*.parquet")
                      if "_txlog" not in f.parts)
        return {
            "interchange.mb_s": self.arrow_bytes / 1e6 / from_arrow if from_arrow else 0.0,
            "sources.txlog.files_kept_ratio":
                sum(k for k, _ in kept) / sum(t for _, t in kept) if kept else 0.0,
            "sources.txlog.write_amplification": written / self.arrow_bytes,
        }

    def model(self, seed: int) -> tuple[list[dict], pa.Table | None]:
        """Replay the observed passes on a pyarrow model of the table:
        what each pass should have observed, and the final table."""
        expected, table = [], None
        for seen in self.observed:
            p = seen["pass"]
            batch, delta = self.batch(seed, p), self.delta(seed, p)
            before = 0 if table is None else table.num_rows
            table = batch if table is None else pa.concat_tables([table, batch])
            table = table.filter(pc.invert(pc.is_in(table["id"], delta["id"])))
            table = pa.concat_tables([table, delta])
            table = table.filter(pc.invert(_between(table["id"], *self.doomed(p))))
            hit = table.filter(_between(table["id"], *self.zone(max(p - 1, 0))))
            expected.append({
                "pass": p,
                "sums": [{c: pc.sum(batch[c]).as_py() for c in ("id", "key", "val")}],
                "read": (hit.num_rows, pc.sum(hit["val"]).as_py() or 0),
                "time_travel": before,
                "net": table.num_rows - before,
            })
        return expected, table

    def check(self, expected: list[dict]) -> list[str]:
        """Every observation that differs from the model's."""
        return [f"pass {want['pass']}: {k} {seen.get(k)} != {v}"
                for seen, want in zip(self.observed, expected)
                for k, v in want.items() if seen.get(k) != v]

    def verify(self, ctx: Context) -> tuple[int, list[str]]:
        """Check every pass's outputs and the final table against the
        model. Returns (checks made, failures)."""
        from bearly_spark.sources import txlog

        expected, want = self.model(ctx.seed)
        failures = self.check(expected)
        cols = ["id", "key", "val", "score"]
        got = txlog.read_table(ctx.spark, str(self.table)).toArrow().select(cols).sort_by("id")
        want = want.select(cols).sort_by("id")
        if not got.equals(want):
            failures.append(f"final table: {got.num_rows} rows != model {want.num_rows} rows")
        return 4 * len(self.observed) + 1, failures


def _between(col, lo: int, hi: int):
    return pc.and_(pc.greater_equal(col, lo), pc.less_equal(col, hi))


#: Workload factories: a run builds a fresh workload, which then holds
#: that run's state.
WORKLOADS = {
    "relational_scaled": partial(
        RegistryWorkload, "relational_scaled", RELATIONAL, ["customer", "orders", "lineitem"],
        scale=0.1, replicas=4, pass_s=4.5, builds_index=False),
    "llm_indexed": partial(
        RegistryWorkload, "llm_indexed", LLM, ["lineitem", "documents", "embeddings"],
        scale=0.01, replicas=1, pass_s=2.0, builds_index=True),
    "ingest_write": partial(IngestWorkload, "ingest_write", rows=100_000, pass_s=3.3),
}
