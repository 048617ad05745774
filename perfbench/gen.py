"""Seeded input generator for the benchmark.

The inputs are drawn from the engine's sf0.1 testdata tables, which
the benchmark carries in ``perfbench/data/`` (only the columns the
workloads read, zstd-compressed) so that it reads nothing outside its
checkout. The seed picks a Bernoulli row sample: a share of the orders
with every lineitem of each kept order (so the real key structure,
such as duplicate ``(l_orderkey, l_linenumber)`` pairs, carries over),
all customers, and a share of the documents. Values and distributions
are the testdata's own; nothing is synthesised.

The same seed always gives byte-identical files; :func:`content_hash`
is the check. Only numpy and pyarrow are used, so inputs are ready
before the JVM starts and never depend on the engine under test.

``perfbench/data/`` was written from the sf0.1 tables with

    python3 perfbench/gen.py vendor <sf0.1 testdata directory>
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: the columns of each sf0.1 table that the workloads (engine and
#: oracles) read; None keeps them all
COLUMNS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_shipdate",
    ],
    "documents": None,
}
TABLES = tuple(COLUMNS)

#: share of the sf0.1 orders (with their lineitems) and documents a
#: seed keeps
ORDERS_FRACTION = 0.1
DOCUMENTS_FRACTION = 0.3


def vendor(src_dir: str, dst_dir: str = DATA_DIR) -> None:
    """Copy the workloads' columns of the sf0.1 tables into ``dst_dir``."""
    os.makedirs(dst_dir, exist_ok=True)
    for t, cols in COLUMNS.items():
        tab = pq.read_table(os.path.join(src_dir, f"{t}.parquet"), columns=cols)
        pq.write_table(
            tab.replace_schema_metadata(None), os.path.join(dst_dir, f"{t}.parquet"),
            compression="zstd", compression_level=19,
        )


def _write(out_dir: str, name: str, tab: pa.Table) -> None:
    pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _source(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))


def generate(out_dir: str, seed: int) -> None:
    """Write every table for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    orders = _source("orders")
    orders = orders.filter(pa.array(rng.random(orders.num_rows) < ORDERS_FRACTION))
    lineitem = _source("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem.column("l_orderkey"), orders.column("o_orderkey")))
    docs = _source("documents")
    docs = docs.filter(pa.array(rng.random(docs.num_rows) < DOCUMENTS_FRACTION))
    _write(out_dir, "customer", _source("customer"))
    _write(out_dir, "orders", orders)
    _write(out_dir, "lineitem", lineitem)
    _write(out_dir, "documents", docs)


def content_hash(out_dir: str) -> str:
    """sha256 over every table file, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(out_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def input_stats(out_dir: str, tables) -> dict:
    """Rows and bytes of the given tables, read from parquet footers."""
    rows = sum(pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows for t in tables)
    size = sum(os.path.getsize(os.path.join(out_dir, f"{t}.parquet")) for t in tables)
    return {"tables": list(tables), "rows": rows, "bytes": size}


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "vendor":
        sys.exit("usage: python3 perfbench/gen.py vendor <sf0.1 testdata directory>")
    vendor(sys.argv[2])
