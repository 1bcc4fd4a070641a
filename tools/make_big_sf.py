"""Deterministic MEASUREMENT-ONLY scale-up of an sf fixture directory.

Usage: python tools/make_big_sf.py [factor] [src_dir] [out_dir]
       (defaults: 10, /root/testdata/sf0.1, .scratch/sfbig<factor>)

Replicates each fact table ``factor`` times with per-replica key shifts
(replica 0 is the identity), so every foreign-key relationship holds
within a replica and replicas are disjoint: the co-order / bipartite
graphs become ``factor`` disjoint copies, documents/embeddings gain
``factor - 1`` shifted-id duplicates, and every aggregate sees
``factor``x the rows. Content is a pure function of the source fixture
— no randomness, no timestamps — so repeated builds are byte-stable
and before/after code trees measure the identical input.

This exists for the round-14 scale evidence (VERDICT r13 "prove the
wins at a scale where they're visible"): sf0.1 is overhead-bound
(8-core vs 32-core totals differ by 6%), so per-operator wins are
demonstrated on this ~sf1-equivalent layout instead. The output lives
under ``.scratch/`` and is NOT part of the bench/oracle contract:
``bench.py`` and the oracle gate still read only the driver's fixture
directories.
"""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# key shifts per replica: generous strides keep replica key spaces
# disjoint at any supported factor (<= 100)
_SHIFTS = {
    "lineitem": {"l_orderkey": 100_000_000, "l_partkey": 10_000_000, "l_suppkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}
_COPY_ONLY = ["nation", "region", "events"]


def build(spark, factor: int, src: str, out: str) -> None:
    n_parts = spark.sparkContext.defaultParallelism
    for name, shifts in _SHIFTS.items():
        df = spark.read.parquet(f"{src}/{name}.parquet")
        reps = []
        for i in range(factor):
            r = df
            for col, stride in shifts.items():
                # always long: int32 keys would wrap from factor >= 23
                r = r.withColumn(col, (F.col(col).cast("long") + F.lit(i * stride)))
            reps.append(r)
        big = reps[0]
        for r in reps[1:]:
            big = big.unionByName(r)
        big.repartition(n_parts).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(f"wrote {name} x{factor}", flush=True)
    for name in _COPY_ONLY:
        spark.read.parquet(f"{src}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")
        print(f"copied {name}", flush=True)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", f"sfbig{factor}")
    )
    from bearly_spark.session import get_spark

    spark = get_spark("make-big-sf")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, factor, src, out)
    print(f"done: {out}", flush=True)


if __name__ == "__main__":
    main()
