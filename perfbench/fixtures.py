"""Seeded pyarrow generator for the benchmark's input tables.

The tables follow the layout of the repository's test fixtures
(``TESTDATA.md``: the TPC-H-like star schema plus ``documents`` and
``embeddings``): the same column names, types and value domains, drawn
uniformly at random from a ``numpy`` generator with a fixed content
seed. The benchmark's ``--seed`` sets the row order of every table, so
every seed does the same work in a different physical layout. Nothing
here imports the program under test, so both sides of an A/B read
identical bytes for a given seed.

``replicas > 1`` applies the ``tools/make_big_sf.py`` scheme: each fact
and dimension table is repeated with per-replica key shifts, so foreign
keys hold within a replica and replicas are disjoint.

Generated sets are cached under
``<cache_root>/sf<scale>x<replicas>-s<seed>-<digest>``, where the digest
covers the table list and this file's source; :func:`materialize` then
hard-links a cached set into a fresh, uniquely named directory per run.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Base rows per unit of scale factor (sf1 = 6M lineitem rows).
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

#: Per-replica key strides, as in ``tools/make_big_sf.py``.
_SHIFTS = {
    "lineitem": {"l_orderkey": 100_000_000, "l_partkey": 10_000_000, "l_suppkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_EMBED_DIM = 64

#: Seeds the table contents; the run's seed only permutes rows.
CONTENT_SEED = 20240101

#: How many generated sets the cache keeps, most recently used first.
FIXTURE_SETS_KEPT = 6

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def source_digest() -> str:
    """Digest of this generator's source: a cached set is reused only by
    the code that wrote it."""
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: int, last: int, n: int) -> pa.Array:
    """Midnight timestamps (no time zone) between two day offsets from
    1995-01-01, inclusive."""
    us = _EPOCH_1995 + rng.integers(first, last + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _base_tables(seed: int, scale: float, names: list[str]) -> dict[str, pa.Table]:
    """The named tables at ``scale``, each from its own seeded stream so
    that generating a subset yields the same bytes for those tables."""
    n = {t: max(1, int(r * scale)) for t, r in _ROWS_PER_SF.items()}
    return {t: _TABLES[t](np.random.default_rng([seed, i]), n)
            for i, t in enumerate(_TABLES) if t in names}


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    m = n["customer"]
    return pa.table({
        "c_custkey": _keys(m),
        "c_name": [f"Customer#{i:09d}" for i in range(m)],
        "c_nationkey": rng.integers(0, 25, m).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, m),
        "c_mktsegment": _pick(rng, _SEGMENTS, m),
    })


def _supplier(rng, n):
    m = n["supplier"]
    return pa.table({
        "s_suppkey": _keys(m),
        "s_name": [f"Supplier#{i:09d}" for i in range(m)],
        "s_nationkey": rng.integers(0, 25, m).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, m),
    })


def _part(rng, n):
    m = n["part"]
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    return pa.table({
        "p_partkey": _keys(m),
        "p_name": _pick(rng, names, m),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], m),
        "p_type": _pick(rng, _P_TYPES, m),
        "p_size": rng.integers(1, 51, m).astype(np.int32),
        "p_retailprice": np.round(900 + (_keys(m) % 1000) / 10, 1),
    })


def _orders(rng, n):
    m = n["orders"]
    return pa.table({
        "o_orderkey": _keys(m),
        "o_custkey": rng.integers(0, n["customer"], m),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], m),
        "o_totalprice": _money(rng, 1000.0, 500000.0, m),
        "o_orderdate": _days(rng, 0, 2404, m),
        "o_orderpriority": _pick(rng, _PRIORITIES, m),
    })


def _lineitem(rng, n):
    m = n["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.10, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, 1, 2499, m),
    })


def _documents(rng: np.random.Generator, n: dict) -> pa.Table:
    """Word salad over a 31-word vocabulary; 5% of documents copy an
    earlier one with `` dup`` appended (near duplicates) and 0.2% copy
    one verbatim (exact duplicates), like the repository's fixtures."""
    n = n["documents"]
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts, at = [], 0
    for length in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[at:at + length]))
        at += length
    kind = rng.random(n)
    sources = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[sources[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[sources[i]]
    return pa.table({
        "doc_id": _keys(n),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: dict) -> pa.Table:
    n = n["embeddings"]
    vecs = rng.standard_normal((n, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * _EMBED_DIM + 1, _EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


_TABLES = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "documents": _documents, "embeddings": _embeddings,
}


def _replicate(name: str, table: pa.Table, replicas: int) -> pa.Table:
    shifts = _SHIFTS.get(name)
    if replicas == 1 or not shifts:
        return table
    parts = []
    for i in range(replicas):
        rep = table
        for col, stride in shifts.items():
            j = rep.schema.get_field_index(col)
            shifted = np.asarray(rep[col]) + np.int64(i * stride)
            rep = rep.set_column(j, col, pa.array(shifted, rep.schema.field(col).type))
        parts.append(rep)
    return pa.concat_tables(parts)


def generate(out_dir: Path, seed: int, scale: float, replicas: int,
             tables: list[str]) -> None:
    """Write each named table as ``<out_dir>/<name>.parquet`` in eight
    row groups, so scans split across tasks, with rows in an order set
    by ``seed``."""
    rng = np.random.default_rng(seed)
    tmp = out_dir.with_name(out_dir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _base_tables(CONTENT_SEED, scale, tables).items():
        table = _replicate(name, table, replicas)
        table = table.take(rng.permutation(table.num_rows))
        row_group = max(1, -(-table.num_rows // 8))
        pq.write_table(table, tmp / f"{name}.parquet", row_group_size=row_group)
    tmp.rename(out_dir)


def materialize(cache_root: Path, run_dir: Path, seed: int, scale: float,
                replicas: int, tables: list[str]) -> Path:
    """A fresh, uniquely named fixture directory for one run, hard-linked
    from the per-seed cache (generated on a miss). Keeps the
    :data:`FIXTURE_SETS_KEPT` most recently used cached sets."""
    digest = hashlib.sha256(f"{tables}{source_digest()}".encode()).hexdigest()[:12]
    cached = cache_root / f"sf{scale:g}x{replicas}-s{seed}-{digest}"
    if not cached.exists():
        generate(cached, seed, scale, replicas, tables)
    os.utime(cached)
    stale = sorted((p for p in cache_root.iterdir() if p.is_dir()),
                   key=lambda p: p.stat().st_mtime, reverse=True)[FIXTURE_SETS_KEPT:]
    for p in stale:
        shutil.rmtree(p, ignore_errors=True)
    run_dir.mkdir(parents=True)
    for f in cached.iterdir():
        os.link(f, run_dir / f.name)
    return run_dir
