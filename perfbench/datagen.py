"""Synthetic input for the benchmark: the `events` and `orders` tables.

Writes `events.parquet` with the schema and value domains of the
TPC-H-ish test data the registry's oracles were written against:
`event_id` (ordered like `ts`), `ts` (microsecond timestamps, uniform
over 30 days from 2024-01-01), `user_id`, one of five `event_type`s,
an exponential `value` (mean 50) and a small JSON `props`; and
`orders.parquet` with the two columns the benchmark's order queries
read, `o_orderkey` and `o_totalprice` (uniform, cents). Generation is
numpy + pyarrow only, well under a second, and needs no Spark.

The table is drawn from the run's seed: the same seed writes the same
table, another seed other values of the same size and distributions, so
runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z, the start of the 30-day events window.
EVENTS_EPOCH_S = 1_704_067_200
EVENTS_DAYS = 30

_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write `events.parquet` (1,000,000 x sf rows, 15,000 x sf users)
    and `orders.parquet` (1,500,000 x sf rows) at scale factor `sf` into
    `out_dir`, created if missing."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = int(1_000_000 * sf)
    span_us = EVENTS_DAYS * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + EVENTS_EPOCH_S * 1_000_000
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    n_orders = int(1_500_000 * sf)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1, dtype="int64")),
        "o_totalprice": pa.array(rng.integers(90_000, 55_000_000, n_orders) / 100.0),
    })
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
