#!/usr/bin/env python3
"""Seeded benchmark corpus in the 10-table schema of the test corpora.

Scale 1 has the sf0.1 row counts (5,000 documents, 2,000
embeddings, 100,000 events, 150,000 orders, ~600,000 lineitems, 15,000
customers, 20,000 parts, 1,000 suppliers); scale k multiplies every
scaled table by k. The seeded table functions come from
`tools/gen_sf1.py`; `nation` and `supplier`, which that script omits,
are written here so that no key fails on a missing table.

`events.ts` is cast to microseconds, the unit of the test corpora.

Usage: python3 benchmark/gen_corpus.py <outdir> <seed> <scale>
"""
import os
import random
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import gen_sf1  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def gen_nation():
    """The fixed 25-row nation table of the test corpora: five nations
    per region."""
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in keys], pa.string()),
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def gen_supplier(n, seed):
    """Mirror the sf0.1 supplier profile: dense keys from 0, uniform
    nation 0..24, account balance U(-1000, 10000) at 2 dp."""
    npr = np.random.default_rng(seed + 11)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)],
                           pa.string()),
        "s_nationkey": pa.array(npr.integers(0, 25, n).astype(np.int32),
                                pa.int32()),
        "s_acctbal": pa.array(np.round(npr.uniform(-1000.0, 10000.0, n), 2),
                              pa.float64()),
    })


def generate(out, seed, scale):
    """Write all ten tables under `out`; the same (seed, scale) always
    gives byte-identical tables."""
    os.makedirs(out, exist_ok=True)
    n_supp = 1000 * scale
    docs = gen_sf1.gen_documents(5000 * scale, random.Random(seed))
    emb = gen_sf1.gen_embeddings(2000 * scale, seed)
    ev = gen_sf1.gen_events(100000 * scale, 1500 * scale, seed)
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                       ev.column("ts").cast(pa.timestamp("us"), safe=False))
    cust, orders, li = gen_sf1.gen_tpch(
        n_orders=150000 * scale, n_cust=15000 * scale,
        n_part=20000 * scale, n_supp=n_supp, seed=seed)
    tables = {
        "region": gen_sf1.gen_region(),
        "nation": gen_nation(),
        "customer": cust,
        "supplier": gen_supplier(n_supp, seed),
        "part": gen_sf1.gen_part(20000 * scale, seed),
        "orders": orders,
        "lineitem": li,
        "events": ev,
        "documents": docs,
        "embeddings": emb,
    }
    for name in TABLES:
        pq.write_table(tables[name], f"{out}/{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
