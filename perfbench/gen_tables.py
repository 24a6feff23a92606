"""Seeded generator for the tables the ``fixed_cost`` workload reads.

Writes ``lineitem`` and ``events`` (the inputs of ``graph_pagerank``
and ``stream_stateful_running``), one parquet file each, with the
column names, types and value domains of the engine's TPC-H-ish test
tables, ``events.ts`` included (``timestamp[us]``, as in the test
tables). Row counts are those of the test tables at scale factor
``scale`` (0.001: 6,000 lineitem and 1,000 events rows); the same
``(seed, scale)`` always writes the same bytes.

``events.ts`` is strictly increasing, so ``(user_id, ts)`` is unique
and every order by event time is tie-free.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at scale factor ``scale``, and the key domains
    lineitem and events draw from (the parts, suppliers, orders and
    customers of the same scale factor)."""
    base = {
        "lineitem": 6_000_000,
        "events": 1_000_000,
        "part": 200_000,
        "supplier": 10_000,
        "orders": 1_500_000,
        "customer": 150_000,
    }
    return {t: round(n * scale) for t, n in base.items()}


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array([values[i] for i in rng.integers(0, len(values), n)], pa.string())


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c = row_counts(scale)
    nl, ne = c["lineitem"], c["events"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, c["orders"], nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, c["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
        }
    )
    gaps = rng.integers(1, 2 * 30 * _DAY_US // ne, ne)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, c["customer"] // 10, ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    return {"lineitem": lineitem, "events": events}


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write each table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
