"""Seeded input generation for the benchmark.

Every table the workloads read is generated here from the workload seed,
so a run needs nothing outside its checkout. The tables follow the
schema and value domains of the engine's TPC-H-style fixture tables
(``region nation customer supplier part orders lineitem events documents
embeddings``); sizes follow the fixture's sf0.001 row counts (see
SIZES), the scale at which the registered queries' walls are dominated
by per-query fixed cost, as they are at sf0.1 on a small host.

The replication workload's source is generated separately: ``orders``
at 15k rows (the sf0.01 row count) plus an ``updated_at`` watermark
column, and a seeded, unbounded sequence of increments.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EPOCH = dt.datetime(1970, 1, 1)

# Row counts of the fixture's sf0.001 tables, except embeddings: 250
# instead of 500 keeps the all-pairs query's pass inside the run budget.
SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "event_users": 15,
    "documents": 500,
    "embeddings": 250,
    "embedding_dim": 64,
}
ETL_ROWS = 15_000
N_BUCKETS = 64
TRICKLE_ROWS = 10
TRICKLE_DELETES = 2
BULK_SHARE = 0.15


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    us = _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _orders(rng: np.random.Generator, n: int, first_key: int, n_cust: int) -> dict:
    return {
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_cents(rng, 1000, 500000, n)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten query tables as one parquet file each under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = SIZES
    w = lambda name, cols: write_parquet(pa.table(cols), f"{out_dir}/{name}.parquet")  # noqa: E731

    w("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    w("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = s["customer"]
    w("customer", {
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n)),
    })
    n = s["supplier"]
    w("supplier", {
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
    })
    n = s["part"]
    w("part", {
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n), rng.choice(_PART_NOUN, n))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(n)]),
    })
    w("orders", _orders(rng, s["orders"], 0, s["customer"]))
    n = s["lineitem"]
    w("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n),
    })
    n = s["events"]
    month_us = 30 * 86_400_000_000
    ts = _micros(dt.datetime(2024, 1, 1)) + np.sort(rng.integers(0, month_us, n))
    w("events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["event_users"], n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    n = s["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 96)))))
    w("documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n, d = s["embeddings"], s["embedding_dim"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, d))
    vecs = centroids[labels] + 1.5 * rng.normal(size=(n, d))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    w("embeddings", {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --- replication source ------------------------------------------------

_ETL_T0 = _micros(dt.datetime(2024, 1, 1))


def write_etl_source(path: str, seed: int, rows: int = ETL_ROWS) -> None:
    """The full-copy source: ``orders`` at ``rows`` rows, all stamped
    with ``updated_at`` before the first increment's watermark."""
    rng = np.random.default_rng([seed, 0])
    cols = _orders(rng, rows, 0, 15_000)
    cols["updated_at"] = pa.array(
        _ETL_T0 - rng.integers(1, 86_400_000_000, rows), pa.timestamp("us")
    )
    write_parquet(pa.table(cols), path)


class Increments:
    """The seeded, unbounded sequence of replication increments.

    Increment 0 is a *trickle* (TRICKLE_ROWS rows, so at most that many
    touched buckets) whose last TRICKLE_DELETES rows are replaced by a
    deletion feed. After it the kinds cycle: plain trickle, deleting
    trickle, plain trickle, *bulk* (BULK_SHARE of the source rows, a
    fifth of them new keys). Keys, values and new-key counts are seeded. Every increment's ``updated_at`` is
    later than every earlier one, so the watermark admits all of it.

    The generator tracks the live key set, so an update or deletion
    always names a live key and no key is both upserted and deleted.
    """

    def __init__(self, seed: int, rows: int = ETL_ROWS):
        self._seed = seed
        self._rows = rows
        self._live = np.arange(rows, dtype=np.int64)
        self._next_key = rows
        self._i = 0

    def next(self) -> dict:
        i = self._i
        self._i += 1
        rng = np.random.default_rng([self._seed, 2, i])
        slot = (i - 1) % 4 if i else 1
        bulk = slot == 3
        if bulk:
            n = int(BULK_SHARE * self._rows)
            n_new, n_del = n // 5, 0
        else:
            n = TRICKLE_ROWS
            n_del = TRICKLE_DELETES if slot == 1 else 0
            n_new = int(rng.integers(0, 4))
        n_upd = n - n_new - n_del
        pick = rng.choice(len(self._live), n_upd + n_del, replace=False)
        upd_keys = self._live[pick[:n_upd]]
        del_keys = self._live[pick[n_upd:]]
        new_keys = np.arange(self._next_key, self._next_key + n_new, dtype=np.int64)
        self._next_key += n_new
        keys = np.concatenate([upd_keys, new_keys])
        cols = _orders(rng, len(keys), 0, 15_000)
        cols["o_orderkey"] = pa.array(keys, pa.int64())
        base = _ETL_T0 + (i + 1) * 3_600_000_000
        cols["updated_at"] = pa.array(
            base + rng.integers(0, 3_600_000_000, len(keys)), pa.timestamp("us")
        )
        if n_del:
            self._live = self._live[~np.isin(self._live, del_keys)]
        self._live = np.concatenate([self._live, new_keys])
        return {
            "index": i,
            "kind": "bulk" if bulk else "trickle",
            "rows": pa.table(cols),
            "deleted_keys": [int(k) for k in del_keys],
            "live_rows": len(self._live),
        }

    def sample_keys(self, i: int, k: int = 16) -> list[int]:
        """A seeded sample of ``k`` live keys for the read-back after increment ``i``."""
        rng = np.random.default_rng([self._seed, 3, i])
        return sorted(int(x) for x in rng.choice(self._live, k, replace=False))
