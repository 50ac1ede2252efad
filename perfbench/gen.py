"""Seeded inputs for the benchmark: a star-schema table set and a JSON topic.

Everything here is derived from ``numpy.random.default_rng(seed)`` only, so
one seed always gives byte-identical inputs. The program under test never
sees the seed: it is handed the written parquet files and topic files.

The table set has the schema and value domains of the repository's driver
testdata (TPC-H-shaped relational tables plus an ``events`` table), at a
size where every query is dominated by per-query driver and scheduling
cost rather than by scan volume.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table; ``orders``/``lineitem`` follow TPC-H's 1:4 ratio.
TABLE_ROWS = {
    "customer": 1500,
    "orders": 15000,
    "lineitem": 60000,
    "part": 2000,
    "supplier": 100,
    "events": 10000,
}
EVENT_USERS = 150

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "old", "new", "hot")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

ORDER_EPOCH = datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, as in the testdata
EVENT_EPOCH = datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _money(x):
    return np.round(x, 2)


def _ts(epoch: datetime, micros: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + micros.astype("timedelta64[us]"), type=pa.timestamp("us"))


def make_tables(root: str, seed: int) -> dict[str, int]:
    """Write the relational table set as ``<root>/<table>.parquet``;
    returns the row count per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    n = TABLE_ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n["customer"]))),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n["supplier"]))),
        }
    )
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(
            rng.integers(0, len(PART_ADJ), n["part"]),
            rng.integers(0, len(PART_NOUN), n["part"]),
        )
    ]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(_money(900.0 + (np.arange(n["part"]) % 1000) / 10.0)),
        }
    )
    day_us = 86400 * 10**6
    order_days = rng.integers(0, ORDER_DAYS, n["orders"])
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": _pick(rng, STATUSES, n["orders"]),
            "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, n["orders"]))),
            "o_orderdate": _ts(ORDER_EPOCH, order_days * day_us),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    li_order = rng.integers(0, n["orders"], n["lineitem"])
    quantity = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    ship_days = order_days[li_order] + rng.integers(1, 122, n["lineitem"])
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(li_order),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"])),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(_money(quantity * rng.uniform(900.0, 2100.0, n["lineitem"]))),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n["lineitem"]),
            "l_linestatus": _pick(rng, ("F", "O"), n["lineitem"]),
            "l_shipdate": _ts(ORDER_EPOCH, ship_days * day_us),
        }
    )
    event_us = np.sort(rng.integers(0, EVENT_SECONDS * 10**6, n["events"]))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
            "ts": _ts(EVENT_EPOCH, event_us),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n["events"])),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": pa.array(_money(rng.uniform(0.01, 500.0, n["events"]))),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n["events"])]),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


TOPIC_CURRENCIES = ("EUR", "USD", "GBP")
TOPIC_STATUSES = ("approved", "declined")
TOPIC_EPOCH = datetime(2026, 1, 5, tzinfo=timezone.utc)


def make_topic(
    root: str,
    seed: int,
    stream: int,
    batches: int,
    rows_per_batch: int,
    update_share: float,
) -> None:
    """Write a ``transaction_stream`` topic as one JSON-lines file per
    micro-batch, ``<root>/batch-NNN.json`` in delivery order. ``stream``
    numbers independent topics drawn from one seed.

    Keys are random 32-bit hex ids. In every batch after the first,
    ``update_share`` of the rows re-key ``transaction_id``s delivered in an
    earlier batch (an update or a redelivery with new values); a key
    appears at most once per batch. Batch sizes vary by ±10% around
    ``rows_per_batch``, drawn from the seed, with the total fixed.
    Event times advance monotonically across the topic, one to twenty
    seconds apart, so a topic spans several hours."""
    rng = np.random.default_rng([seed, 2, stream])
    os.makedirs(root, exist_ok=True)
    total = batches * rows_per_batch
    weights = rng.uniform(0.9, 1.1, batches)
    sizes = np.floor(weights / weights.sum() * total).astype(int)
    sizes[-1] += total - sizes.sum()
    gaps = rng.integers(1_000_000, 20_000_000, total)
    ts_us = np.cumsum(gaps)
    fresh = iter(
        rng.choice(np.iinfo(np.uint32).max, size=total, replace=False).tolist()
    )
    delivered: list[str] = []
    pos = 0
    for b, size in enumerate(sizes):
        n_upd = int(round(size * update_share)) if b else 0
        upd = rng.choice(len(delivered), size=n_upd, replace=False) if n_upd else []
        new_keys = [f"tx_{next(fresh):08x}" for _ in range(size - n_upd)]
        keys = [delivered[i] for i in upd] + new_keys
        keys = [keys[i] for i in rng.permutation(size)]
        users = rng.integers(1, 10_001, size)
        cents = rng.integers(100, 50_001, size)
        cur = rng.integers(0, len(TOPIC_CURRENCIES), size)
        stat = rng.integers(0, len(TOPIC_STATUSES), size)
        records = []
        for i, key in enumerate(keys):
            stamp = TOPIC_EPOCH + timedelta(microseconds=int(ts_us[pos + i]))
            records.append(
                {
                    "transaction_id": key,
                    "user_id": int(users[i]),
                    "amount": int(cents[i]) / 100.0,
                    "currency": TOPIC_CURRENCIES[cur[i]],
                    "timestamp": stamp.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
                    "status": TOPIC_STATUSES[stat[i]],
                }
            )
        pos += size
        delivered.extend(new_keys)
        with open(os.path.join(root, f"batch-{b:03d}.json"), "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in records)
