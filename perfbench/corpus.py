"""The tables the heavy_rows battery rows read, written from the run's seed:
orders (150,000 rows, as at sf0.1, with the schema of the engine's sf0.1
test table) and events (10,000 rows).
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
HEAVY_EVENTS = 10_000
# the row counts a run's environment record carries, per workload
ROWS = {"heavy_rows": {"orders": N_ORDERS, "events": HEAVY_EVENTS}}
TS = pa.timestamp("us", tz="UTC")


def _ts(days):
    """UTC timestamps `days` after 1992-01-01."""
    return pa.array(np.datetime64("1992-01-01", "us").astype(np.int64) + days * 86_400_000_000, TS)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _pick(rng, opts, n):
    return pa.array(np.array(opts, dtype=object)[rng.integers(0, len(opts), n)])


def _orders(out, rng):
    """Writes `orders` (N_ORDERS rows)."""
    n = N_ORDERS
    order_days = rng.integers(0, 2400, n)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n) * 4 + 1, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(850, 500_000, n), 2)),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})


def heavy(seed, out: Path):
    """Writes the heavy_rows inputs under `out`: orders, and 10,000 events
    of 100 users over two days, so q_session_stream's 5,000 pinned events
    merge into multi-event sessions."""
    out.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    _orders(out, rng)
    n = HEAVY_EVENTS
    start = np.datetime64("1998-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(rng.permutation(n), pa.int64()),
        "ts": pa.array(start + rng.integers(0, 2 * 86_400_000_000, n), TS),
        "user_id": pa.array(rng.integers(1, 101, n), pa.int64()),
        "event_type": _pick(rng, ["click", "view", "purchase"], n),
        "value": pa.array(np.round(rng.uniform(0, 100, n), 2)),
        "props": pa.array(['{"k":%d}' % i for i in range(n)])})
