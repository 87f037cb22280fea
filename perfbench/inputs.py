"""Seeded benchmark inputs.

Batch tables come from the repository's own generator
(``tools/gen_testdata.py``) with the benchmark seed routed into it: that
module seeds its per-table generators from ``np.random.default_rng(42)``,
so it is loaded here with a ``np`` whose ``random.default_rng`` returns
a generator for the benchmark seed instead.  Seed 42 therefore
reproduces the repository's own tables byte for byte.  The generator
copies region/nation from a source directory; those two fixed dimension
tables are written here from their TPC-H-style constants, so no input
is read from outside the checkout.

Generated tables are cached per (seed, sf) under the work directory.

The stream workload's input is an order/parcel event sequence
(:func:`order_events`) plus the same events reshaped as the ``orders``
and ``lineitem`` tables that the batch CEP oracle reads.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

class _SeededRandom:
    """``numpy.random`` with ``default_rng`` pinned to one seed."""

    def __init__(self, seed: int):
        self._seed = seed

    def default_rng(self, *_args, **_kwargs):
        return np.random.default_rng(self._seed)

    def __getattr__(self, name):
        return getattr(np.random, name)


class _SeededNumpy:
    """``numpy`` whose ``random`` attribute is :class:`_SeededRandom`."""

    def __init__(self, seed: int):
        self.random = _SeededRandom(seed)

    def __getattr__(self, name):
        return getattr(np, name)


def _load_generator(root: str):
    path = os.path.join(root, "tools", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("_perfbench_gen_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_dimensions(out: str) -> None:
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), os.path.join(out, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))


def batch_tables(root: str, work: str, seed: int, sf: float, tables: list[str]) -> str:
    """Directory holding ``tables`` at ``sf`` for ``seed``.  Missing
    tables are generated and kept for later runs; the generator writes
    each table identically whether or not the others are written."""
    out = os.path.join(work, "inputs", f"sf{sf:g}-seed{seed}")
    missing = [t for t in tables if not os.path.exists(os.path.join(out, f"{t}.parquet"))]
    if not missing:
        return out
    tmp = os.path.join(work, "inputs", f".tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    dims = os.path.join(tmp, "_dims")
    os.makedirs(dims)
    _write_dimensions(dims)
    gen = _load_generator(root)
    gen.np = _SeededNumpy(seed)
    gen.SRC = dims
    with contextlib.redirect_stdout(sys.stderr):
        gen.generate(tmp, sf, set(missing))
    os.makedirs(out, exist_ok=True)
    for t in missing:
        os.replace(os.path.join(tmp, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    shutil.rmtree(tmp)
    return out


def fingerprint(sf_dir: str) -> dict:
    """Row count and md5 of the first 64 KiB of each parquet table."""
    fp = {}
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(sf_dir, name)
        with open(path, "rb") as f:
            head = hashlib.md5(f.read(65536)).hexdigest()[:12]
        fp[name[: -len(".parquet")]] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "head_md5": head,
        }
    return fp


# -- stream_cep ----------------------------------------------------------

DAY_S = 86_400
#: event-time origin of the generated stream
EPOCH_S = 1_700_000_000
STREAM_SCHEMA = pa.schema([
    ("order_id", pa.int64()),
    ("type", pa.string()),
    ("expected", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
STREAM_SCHEMA_DDL = "order_id bigint, type string, expected bigint, ts timestamp"


def order_events(seed: int, file_sizes: list[int], events_per_day: float) -> dict:
    """A seeded order/parcel stream, sorted by event time and cut into
    files of ``file_sizes`` events.

    Orders arrive at a steady event-time rate, ``events_per_day`` events
    per day of event time.  Each has 0-6 parcels shipped between 2 days
    before and 36 days after the order (the decision deadline is 30
    days), so every decision kind and the before-the-order buffering path
    occur.  Orders that do not fit whole into the stream are left out.
    Returns the event columns, the file of each event, per order the
    file that completes it (its order event or its last parcel), and
    ``orders`` / ``lineitem`` column dicts for the batch oracle."""
    rng = np.random.default_rng(seed)
    total = int(sum(file_sizes))
    # ~4 events per order on average (1 order + mean 3 parcels)
    n_orders = total // 4 + 64
    n_parcels = rng.integers(0, 7, n_orders)
    o_ts = np.floor(EPOCH_S + np.sort(rng.uniform(0, 4 * n_orders / events_per_day, n_orders)) * DAY_S)
    p_order = np.repeat(np.arange(n_orders, dtype=np.int64), n_parcels)
    p_ts = np.floor(o_ts[p_order] + rng.uniform(-2, 36, len(p_order)) * DAY_S)

    ids = np.concatenate([np.arange(n_orders, dtype=np.int64), p_order])
    is_order = np.concatenate([np.ones(n_orders, bool), np.zeros(len(p_order), bool)])
    ts = np.concatenate([o_ts, p_ts])
    expected = np.concatenate([np.maximum(n_parcels, 1), np.zeros(len(p_order), np.int64)])
    order = np.lexsort((~is_order, ts))[:total]
    ids, is_order, ts, expected = ids[order], is_order[order], ts[order], expected[order]

    kept = np.zeros(n_orders, bool)
    kept[ids[is_order]] = True
    kept &= np.bincount(ids[~is_order], minlength=n_orders) == n_parcels
    keep = kept[ids]
    ids, is_order, ts, expected = ids[keep], is_order[keep], ts[keep], expected[keep]

    # cut at the nominal boundaries, scaled to the events that remain
    bounds = np.cumsum(file_sizes)[:-1] * len(ids) // total
    file_of = np.searchsorted(bounds, np.arange(len(ids)), side="right")
    done_file = np.full(n_orders, -1, np.int64)
    np.maximum.at(done_file, ids, file_of)
    oid = ids[is_order]
    return {
        "ids": ids,
        "is_order": is_order,
        "ts": ts,
        "expected": expected,
        "file_of": file_of,
        "done_file": done_file,
        "n_orders": int(len(oid)),
        "orders": {"o_orderkey": oid, "o_orderdate_s": ts[is_order]},
        "lineitem": {"l_orderkey": ids[~is_order], "l_shipdate_s": ts[~is_order]},
    }


def write_event_file(path: str, ev: dict, lo: int, hi: int) -> None:
    """Write events ``[lo, hi)`` as one parquet file, atomically."""
    is_order = ev["is_order"][lo:hi]
    table = pa.table({
        "order_id": pa.array(ev["ids"][lo:hi], pa.int64()),
        "type": pa.array(np.where(is_order, "ORDER_CREATED", "PARCEL_SHIPPED")),
        "expected": pa.array(ev["expected"][lo:hi], pa.int64()),
        "ts": pa.array((ev["ts"][lo:hi] * 1e6).astype("int64"), pa.timestamp("us", tz="UTC")),
    }, schema=STREAM_SCHEMA)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_tick(path: str, ts_s: float) -> None:
    """The closing tick: one far-future event that moves the watermark
    past every open order's deadline."""
    table = pa.table({
        "order_id": pa.array([-1], pa.int64()),
        "type": ["TICK"],
        "expected": pa.array([0], pa.int64()),
        "ts": pa.array([int(ts_s * 1e6)], pa.timestamp("us", tz="UTC")),
    }, schema=STREAM_SCHEMA)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def oracle_tables(ev: dict, out: str) -> str:
    """Write the stream's orders and parcels as the ``orders`` /
    ``lineitem`` tables the batch CEP oracle reads."""
    os.makedirs(out, exist_ok=True)
    as_ts = lambda s: pa.array((s * 1e6).astype("int64"), pa.timestamp("us"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(ev["orders"]["o_orderkey"], pa.int64()),
        "o_orderdate": as_ts(ev["orders"]["o_orderdate_s"]),
    }), os.path.join(out, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": pa.array(ev["lineitem"]["l_orderkey"], pa.int64()),
        "l_shipdate": as_ts(ev["lineitem"]["l_shipdate_s"]),
    }), os.path.join(out, "lineitem.parquet"))
    return out
