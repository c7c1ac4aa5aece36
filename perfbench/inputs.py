"""Seeded inputs for the benchmark.

Writes one parquet file per catalog table into a directory laid out
like the sf0.1 testdata (``<dir>/<table>.parquet``, one row group per
file, timestamps as ``timestamp[us]`` without a time zone), so the
catalog and every registry query read it unchanged.

Only ``events`` depends on the run's seed. It has the shape and
marginals of the sf0.1 testdata events table:

- 100k rows, ``event_id`` 0..n-1 in ``ts`` order;
- ``ts`` uniform over the 30 days from 2024-01-01;
- 1500 users, drawn uniformly;
- 5 event types, drawn uniformly;
- ``value`` exponential with mean 50, rounded to cents;
- ``props`` = ``{"k": n}`` with n uniform in 0..99.

The other tables a workload reads (``part``, ``lineitem``,
``embeddings``) are drawn from a fixed seed, so they are the same in
every run. They have the shape of their sf0.1 testdata tables at the
smaller row counts listed in ``SIZES``; ``perfbench/tests`` compares
the two where the testdata is present.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXED_SEED = 20240101

N_EVENTS = 100_000
N_USERS = 1500
EVENT_DAYS = 30
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# row counts of the tables that do not depend on the seed: half the
# sf0.1 counts for part and lineitem (same mean basket size, 4 lines per
# order), a quarter for embeddings
N_ORDERS = 75_000
N_SUPPLIERS = 500
SIZES = {
    "part": 10_000,
    "lineitem": 300_000,
    "embeddings": 500,
}

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400 * 1_000_000


def _micros(t: dt.datetime) -> int:
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the testdata: the catalog's scan
    # compaction is part of what set-up measures
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def events_table(seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = N_EVENTS
    start = _micros(EVENT_START)
    ts = np.sort(rng.integers(start, start + EVENT_DAYS * _US_PER_DAY, n))
    k = rng.integers(0, 100, n)
    return pa.table(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(ts, pa.timestamp("us")),
            pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            _pick(rng, EVENT_TYPES, n),
            pa.array(np.round(rng.exponential(50.0, n), 2)),
            pa.array([f'{{"k": {x}}}' for x in k.tolist()]),
        ],
        schema=EVENTS_SCHEMA,
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def part_table(rng: np.random.Generator) -> pa.Table:
    n = SIZES["part"]
    adjectives = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    nouns = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
            "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)),
        }
    )


def lineitem_table(rng: np.random.Generator) -> pa.Table:
    """Lines drawn like the testdata's: each picks its order uniformly,
    so basket sizes are about Poisson(4), from none to well over 7."""
    n = SIZES["lineitem"]
    first_day = dt.datetime(1995, 1, 1)
    n_days = (dt.datetime(2001, 8, 1) - first_day).days + 1
    order_day = rng.integers(0, n_days, N_ORDERS)
    orderkey = rng.integers(0, N_ORDERS, n, dtype=np.int64)
    ship_day = order_day[orderkey] + rng.integers(1, 96, n)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey),
            "l_partkey": pa.array(rng.integers(0, SIZES["part"], n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": pa.array(
                _micros(first_day) + ship_day * _US_PER_DAY, pa.timestamp("us")
            ),
        }
    )


def embeddings_table(rng: np.random.Generator) -> pa.Table:
    """Unit vectors in 64 dimensions, isotropic like the testdata's, with
    labels 0..9 that carry no cluster structure."""
    n = SIZES["embeddings"]
    vecs = rng.normal(0.0, 1.0, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


# the tables that do not depend on the seed, each from its own stream of
# the fixed seed, so building a subset gives the same bytes
_FIXED = {"part": part_table, "lineitem": lineitem_table, "embeddings": embeddings_table}


def build_inputs(out_dir: str, seed: int, tables) -> dict:
    """Write ``tables`` (``events`` or names in ``SIZES``) into
    ``out_dir``; return the input record (row counts and the events type
    mix) that each result carries."""
    os.makedirs(out_dir, exist_ok=True)
    events = events_table(seed)
    rows = {}
    for name in tables:
        if name == "events":
            table = events
        else:
            stream = list(_FIXED).index(name)
            table = _FIXED[name](np.random.default_rng([FIXED_SEED, stream]))
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    types, counts = np.unique(events.column("event_type").to_numpy(zero_copy_only=False), return_counts=True)
    return {
        "rows": dict(sorted(rows.items())),
        "event_type_mix": dict(zip(types.tolist(), counts.tolist())),
    }
