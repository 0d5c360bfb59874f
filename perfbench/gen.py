"""Seeded input generator for the benchmark workloads.

Writes parquet tables with the same names, columns and types as the
project's scale-factor directories (``{dir}/{table}.parquet``, read by
``catalog.load``), so the program sees only generated inputs:

- ``base_tables`` — a star-schema snapshot (region .. embeddings) at a
  given scale, deterministic in its seed.
- ``warehouse_batches`` — an initial load directory plus a sequence of
  change batches cut from one snapshot: events by day, orders (with their
  line items) by month, customer attribute updates, and late-arriving
  customers whose orders land before the customer row does.

Everything is numpy + pyarrow; no Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (sf0.1 of the project's test layout is 0.1 x these).
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_USERS = 1500
EVENT_DAYS = 30
EVENT_START = datetime(2024, 1, 1)
ORDER_START = datetime(1995, 1, 1)
ORDER_MONTHS = 80  # of 30 days each, from ORDER_START
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EMBED_LABELS = 10


def _write(table: pa.Table, path: str, row_groups: int = 1) -> int:
    """Write ``table`` with (about) ``row_groups`` row groups; return bytes."""
    n = max(table.num_rows, 1)
    pq.write_table(table, path, row_group_size=max(1, -(-n // max(1, row_groups))))
    return os.path.getsize(path)


def _ts(base: datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def base_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """One deterministic star-schema snapshot at ``scale``."""
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * scale)) for t, r in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    # customer keys start at 1 as in TPC-H: the program's dummy customer
    # SK is surrogate_key(0), which a real customer 0 would share
    ck = np.arange(1, n["customer"] + 1, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": rng.choice(SEGMENTS, ck.size),
    })
    sk = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, sk.size),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, pk.size), rng.integers(0, 8, pk.size))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, pk.size)],
        "p_type": rng.choice(PART_TYPES, pk.size),
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    # the same number of orders per month, events per day and lines per
    # order for every seed, so a change batch has the same size whatever
    # the seed and only its contents vary
    ok = np.arange(n["orders"], dtype=np.int64)
    order_day = np.sort(np.arange(ok.size) % ORDER_MONTHS * 30 + rng.integers(0, 30, ok.size))
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, ck.size + 1, ok.size),
        "o_orderstatus": rng.choice(["O", "F", "P"], ok.size),
        "o_totalprice": _money(rng, 1000.0, 500000.0, ok.size),
        "o_orderdate": _ts(ORDER_START, order_day * 86_400_000_000),
        "o_orderpriority": rng.choice(PRIORITIES, ok.size),
    })
    per_order = max(1, n["lineitem"] // ok.size)
    lo = np.repeat(ok, per_order)
    line_no = np.tile(np.arange(1, per_order + 1, dtype=np.int32), ok.size)
    t["lineitem"] = pa.table({
        "l_orderkey": lo,
        "l_partkey": rng.integers(0, pk.size, lo.size),
        "l_suppkey": rng.integers(0, sk.size, lo.size),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": rng.integers(1, 51, lo.size).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, lo.size),
        "l_discount": rng.integers(0, 11, lo.size) / 100.0,
        "l_tax": rng.integers(0, 9, lo.size) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], lo.size),
        "l_linestatus": rng.choice(["O", "F"], lo.size),
        "l_shipdate": _ts(ORDER_START, (order_day[lo] + rng.integers(1, 95, lo.size))
                          * 86_400_000_000),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EVENT_START, np.sort(np.arange(ne) % EVENT_DAYS * 86_400_000_000
                                       + rng.integers(0, 86_400_000_000, ne))),
        "user_id": rng.integers(0, EVENT_USERS, ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t.update(corpus_tables(seed + 1, n_docs=max(500, int(50_000 * scale)),
                           n_vecs=max(500, int(20_000 * scale))))
    return t


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Documents of random vocabulary words and random unit embeddings.
    No workload queries them; they complete the table set the catalog
    and the DuckDB oracles expect."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(VOCAB[w] for w in words[bounds[i]:bounds[i + 1]].tolist())
             for i in range(n_docs)]
    vec = rng.normal(size=(n_vecs, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "documents": pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, EMBED_LABELS, n_vecs), pa.int32()),
        }),
    }


@dataclass
class Batch:
    """One warehouse input directory and what it changes."""

    dir: str
    change_rows: int
    change_bytes: int
    max_event_ts: datetime


def warehouse_batches(seed: int, scale: float, out: str, n_batches: int,
                      row_groups: int) -> list[Batch]:
    """Initial load (``batches[0]``) then ``n_batches`` change batches.

    Each directory holds the full current customer snapshot (the
    dimension lookups need it) and only the *new* events, orders and
    line items, each file with ``row_groups`` row groups. Batch ``b``
    adds one event day and one order month; 1% of customers change
    attributes per batch; two orders per batch come from new customers
    whose rows arrive one or two batches later (late-arriving
    dimension members)."""
    rng = np.random.default_rng(seed + 7)
    t = base_tables(seed, scale)
    days0 = EVENT_DAYS - n_batches
    months0 = ORDER_MONTHS - n_batches
    ev, od, li, cust = t["events"], t["orders"], t["lineitem"], t["customer"]
    ev_day = ((ev["ts"].cast(pa.int64()).to_numpy()
               - _ts(EVENT_START, np.zeros(1))[0].value) // 86_400_000_000)
    od_month = ((od["o_orderdate"].cast(pa.int64()).to_numpy()
                 - _ts(ORDER_START, np.zeros(1))[0].value) // (30 * 86_400_000_000))
    n_cust = cust.num_rows
    o_cust = od["o_custkey"].to_numpy().copy()
    deliver: dict[int, int] = {}  # new customer key -> batch that supplies its row
    for b in range(1, n_batches + 1):
        in_batch = np.flatnonzero(od_month == months0 + b - 1)
        for i in rng.choice(in_batch, size=min(2, in_batch.size), replace=False):
            key = n_cust + 1 + len(deliver)
            o_cust[i] = key
            deliver[key] = b + int(rng.integers(1, 3))
    od = od.set_column(1, "o_custkey", pa.array(o_cust))
    new_keys = np.array(sorted(deliver), dtype=np.int64)
    cust = pa.concat_tables([cust, pa.table({
        "c_custkey": new_keys,
        "c_name": _names("Customer", new_keys),
        "c_nationkey": pa.array(rng.integers(0, 25, new_keys.size), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, new_keys.size),
        "c_mktsegment": rng.choice(SEGMENTS, new_keys.size),
    })])
    due = np.array([0] * n_cust + [deliver[k] for k in new_keys.tolist()])
    acct = cust["c_acctbal"].to_numpy().copy()
    seg = np.array(cust["c_mktsegment"].to_pylist(), dtype=object)
    order_keys = od["o_orderkey"].to_numpy()
    l_order = li["l_orderkey"].to_numpy()
    batches = []
    for b in range(n_batches + 1):
        d = os.path.join(out, f"b{b:02d}")
        os.makedirs(d, exist_ok=True)
        if b == 0:
            ev_mask, od_mask = ev_day < days0, od_month < months0
            changed = np.arange(1, n_cust + 1)
        else:
            ev_mask, od_mask = ev_day == days0 + b - 1, od_month == months0 + b - 1
            changed = rng.choice(n_cust, size=max(1, n_cust // 100), replace=False) + 1
            acct[changed - 1] = _money(rng, -999.99, 9999.99, changed.size)
            seg[changed - 1] = rng.choice(SEGMENTS, changed.size)
        arrived = new_keys[due[n_cust:] == b]
        snapshot = (cust.set_column(3, "c_acctbal", pa.array(acct))
                    .set_column(4, "c_mktsegment", pa.array(seg.tolist()))
                    .filter(pa.array(due <= b)))
        delta = snapshot.filter(pa.array(np.isin(snapshot["c_custkey"].to_numpy(),
                                                 np.union1d(changed, arrived))))
        orders = od.filter(pa.array(od_mask))
        lines = li.filter(pa.array(np.isin(l_order, order_keys[od_mask])))
        events = ev.filter(pa.array(ev_mask))
        for name in ("region", "nation", "supplier", "part"):
            _write(t[name], os.path.join(d, f"{name}.parquet"))
        _write(snapshot, os.path.join(d, "customer.parquet"), row_groups)
        nbytes = sum(_write(tb, os.path.join(d, f"{name}.parquet"), row_groups)
                     for name, tb in (("orders", orders), ("lineitem", lines),
                                      ("events", events)))
        # the customer delta is written beside the inputs only to size it
        nbytes += _write(delta, os.path.join(d, "_customer_delta.parquet"))
        rows = orders.num_rows + lines.num_rows + events.num_rows + delta.num_rows
        batches.append(Batch(d, rows, nbytes, events["ts"].to_pylist()[-1]))
    return batches


def single_dir(seed: int, scale: float, out: str) -> None:
    """A whole snapshot in one directory, one row group per file (the
    layout of the project's own scale-factor directories)."""
    os.makedirs(out, exist_ok=True)
    for name, tb in base_tables(seed, scale).items():
        _write(tb, os.path.join(out, f"{name}.parquet"))

