"""Seeded input generation for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes the
same bytes. Inputs are cached on disk per (workload, seed) under the
benchmark's work directory so a repeated seed skips generation; the
cache keeps only the most recently used seeds so disk use stays
bounded. Generation always runs before set-up and outside the timed
region.

The base tables follow the sf0.1 shape of the repository's star schema
(FIXTURES.md §2): 150k orders, 600k lineitems, 15k customers, 20k
parts, 1k suppliers, 5k documents and 2k 64-dim embeddings.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
DIM = 64
VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join shuffle commit index file lake plan stage task "
    "cache spill broadcast read write"
).split()
_EPOCH_1992 = int(_dt.datetime(1992, 1, 1).timestamp())
_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date range
KEEP_SEEDS = 10


def _rng(seed: int, salt: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the values of another
    return np.random.default_rng([int(seed), sum(map(ord, salt)) * 7919 + len(salt)])


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    secs = (_EPOCH_1992 + rng.integers(0, _DAYS, n) * 86_400) * 1_000_000
    return pa.array(secs, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_star(seed: int, scale: float = 1.0) -> dict:
    """The sf0.1-shaped star schema as Arrow tables (``scale`` shrinks
    it for smoke tests)."""
    n = {k: max(10, int(v * scale)) for k, v in SF01.items()}
    out = {}
    r = _rng(seed, "region")
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[r.integers(0, 5, nc)],
    })
    r = _rng(seed, "supplier")
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, ns, -999.99, 9999.99),
    })
    r = _rng(seed, "part")
    npart = n["part"]
    adj = np.array(["large", "hot", "small", "shiny", "cold", "green"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adj[r.integers(0, 6, npart)], " "),
            noun[r.integers(0, 6, npart)],
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"])[
            r.integers(0, 5, npart)
        ],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 20_000) / 10.0, 2),
    })
    r = _rng(seed, "orders")
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _money(r, no, 850.0, 500_000.0),
        "o_orderdate": _dates(r, no),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, no)],
    })
    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(r, nl, 900.0, 2100.0), 2),
        "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, nl)],
        "l_shipdate": _dates(r, nl),
    })
    out["documents"] = make_documents(seed, n["documents"])
    out["embeddings"] = make_embeddings(seed, n["embeddings"])
    return out


def make_documents(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "documents0")
    vocab = np.array(VOCAB)
    lens = r.integers(8, 60, n)
    words = vocab[r.integers(0, len(VOCAB), int(lens.sum()))]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k]))
        pos += k
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "zh"])[r.integers(0, 4, n)],
        "source": np.char.add("src", r.integers(0, 8, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_embeddings(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "embeddings0")
    v = r.normal(0.0, 1.0, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return embeddings_table(np.arange(n), v.astype(np.float32), r.integers(0, 10, n))


def embeddings_table(ids, vecs: np.ndarray, labels) -> pa.Table:
    flat = pa.array(np.ascontiguousarray(vecs, np.float32).reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.asarray(ids), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(np.asarray(labels), pa.int32()),
    })


# -- key-shifted scaled copy (tools/make_scaled_dir.py's recipe) ----------

#: table -> {column: key family}; every column of one family shifts by
#: the same stride, so joins keep per-key cardinalities copy by copy
SHIFT = {
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "customer": {"c_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "nation": {},
    "region": {},
}
_FAMILY = {"order": "orders", "cust": "customer", "part": "part", "supp": "supplier"}


def write_scaled(star: dict, dst: str, factor: int) -> dict:
    """Write ``factor`` key-shifted copies of each SHIFT table, one
    parquet file per copy under ``dst/<table>/``; nation and region stay
    single-copy. Returns {table: total file bytes}."""
    strides = {f: star[t].num_rows for f, t in _FAMILY.items()}
    sizes = {}
    for table, cols in SHIFT.items():
        tdir = os.path.join(dst, table)
        os.makedirs(tdir, exist_ok=True)
        base = star[table]
        copies = range(factor) if cols else range(1)
        for i in copies:
            t = base
            for col, fam in cols.items():
                idx = t.schema.get_field_index(col)
                shifted = pa.array(
                    t.column(col).to_numpy() + i * strides[fam], pa.int64()
                )
                t = t.set_column(idx, col, shifted)
            pq.write_table(t, os.path.join(tdir, f"part-{i:03d}.parquet"),
                           compression="snappy")
        sizes[table] = sum(
            os.path.getsize(os.path.join(tdir, f)) for f in os.listdir(tdir)
        )
    return sizes


# -- per-seed cache -------------------------------------------------------

def cached(cache_root: str, workload: str, seed: int, build) -> str:
    """Directory holding ``build(dir)``'s output for (workload, seed);
    built once, atomically (staged then renamed), and the oldest seeds
    beyond KEEP_SEEDS are evicted."""
    root = os.path.join(cache_root, workload)
    final = os.path.join(root, f"seed-{int(seed)}")
    os.makedirs(root, exist_ok=True)
    if not os.path.isfile(os.path.join(final, "_DONE")):
        staging = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        meta = build(staging) or {}
        with open(os.path.join(staging, "_DONE"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(staging, final)
    os.utime(final)
    seeds = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root)
        if d.startswith("seed-") and ".tmp-" not in d
    )
    for _, d in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return final


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as f:
        return json.load(f)

