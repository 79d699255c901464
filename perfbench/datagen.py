"""Seeded input tables for the benchmark workloads.

The tables have the schemas of the repository's TPC-H-like test data
(`orders`, `lineitem`, `embeddings`), so the queries of
`__spark_entry__` and their DuckDB oracles run on them unchanged.
Values are drawn from a numpy generator seeded by the run's seed:
the same seed and scale give byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_OSTATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """orders and lineitem at scale `sf` (sf0.1 = 150k orders, 600k
    lines; custkey, partkey and suppkey ranges scale with it)."""
    n_orders = max(int(1_500_000 * sf), 10)
    n_cust = max(int(150_000 * sf), 5)
    n_part = max(int(200_000 * sf), 5)
    n_supp = max(int(10_000 * sf), 5)
    n_lines = 4 * n_orders
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_orders) * _DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pa.array(_OSTATUS[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000, 500_000, n_orders), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, n_orders)]),
    })
    okey = rng.integers(0, n_orders, n_lines)
    qty = rng.integers(1, 51, n_lines).astype("float64")
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(_FLAGS[rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(_STATUS[rng.integers(0, 2, n_lines)]),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_lines) * _DAY_US),
    })
    return {"orders": orders, "lineitem": lineitem}


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """`n` unit-norm float32 vectors with a label in 0..9."""
    m = rng.standard_normal((n, dim))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype("float32")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(m.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    })


def write(out_dir: str, seed: int, tpch_sf: float = 0.0, n_vecs: int = 0,
          parts: int = 1) -> dict[str, dict]:
    """Write the requested tables as `<out_dir>/<name>.parquet` (with
    `parts` > 1, a directory of that many part files, as a dataset
    written by a parallel job is) and return {name: {"rows": ...,
    "bytes": ...}}."""
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}
    if tpch_sf:
        tables.update(tpch(rng, tpch_sf))
    if n_vecs:
        tables["embeddings"] = embeddings(rng, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if parts == 1:
            pq.write_table(t, path)
            size = os.path.getsize(path)
        else:
            os.makedirs(path)
            step = -(-t.num_rows // parts)
            for i in range(parts):
                pq.write_table(t.slice(i * step, step),
                               os.path.join(path, f"part-{i:05d}.parquet"))
            size = sum(os.path.getsize(os.path.join(path, f))
                       for f in os.listdir(path))
        sizes[name] = {"rows": t.num_rows, "bytes": size}
    return sizes
