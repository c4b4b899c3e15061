"""Seeded input generator for the benchmark workloads.

Every shape parameter (row counts, days, users, products, payment
methods, files per trigger) is a constant of ``Shape``; the seed only
changes values. The same seed and shape give byte-identical parquet
files, because pyarrow's writer is deterministic for identical tables
and options.

Tables mirror the engine's star schema (``region nation customer
supplier part orders lineitem events documents embeddings``) so the
registry queries run on them unchanged. The streaming backlog and the
nightly day files use the reference's transaction shape.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PAYMENT_METHODS = ["card", "paypal", "wire", "crypto"]
LANGS = ["en", "zh", "de", "es", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "small", "large", "blue", "hot", "green", "red", "shiny"]
PART_NOUN = ["widget", "bolt", "rod", "gear", "plate", "wheel", "ring"]
FLAG_STATUS = [("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O"), ("A", "O")]
VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark group query row data slow filter customer line "
    "value agg column big a vector"
).split()
DIM = 64
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class Shape:
    """Fixed input shape. Benchmarks change it only deliberately; tests
    shrink it to run fast."""

    # star schema for query_mix
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    lines_per_order: int = 4
    events: int = 10000
    event_days: int = 30
    documents: int = 500
    doc_tokens: int = 50
    embeddings: int = 500
    # stream_ingest backlog: one file per trigger
    stream_files: int = 4
    stream_rows_per_file: int = 2000
    stream_file_minutes: int = 10
    # nightly_load: history days, then incremental days
    load_history_days: int = 10
    load_next_days: int = 1
    load_rows_per_day: int = 5000
    load_resend_per_day: int = 250


#: The benchmark's own tests run every workload on this shape.
TINY = Shape(customers=150, suppliers=10, parts=200, orders=1500, events=1000,
             documents=100, embeddings=100, stream_files=3, stream_rows_per_file=300,
             load_history_days=2, load_next_days=1, load_rows_per_day=500,
             load_resend_per_day=20)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """2-decimal amounts, so the engine's exact-decimal sums apply."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array((EPOCH + us.astype("timedelta64[us]")), type=pa.timestamp("us"))


def star_tables(seed: int, shape: Shape) -> dict[str, pa.Table]:
    """The ten engine tables, values drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    s = shape
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(s.customers), type=pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(s.customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, s.customers, -999.0, 9999.0)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, s.customers)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s.suppliers), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s.suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, s.suppliers, -999.0, 9999.0)),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), s.parts)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), s.parts)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(s.parts), type=pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 25, s.parts)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, len(PTYPES), s.parts)]),
        "p_size": pa.array(rng.integers(1, 51, s.parts), type=pa.int32()),
        "p_retailprice": pa.array(_money(rng, s.parts, 900.0, 2000.0)),
    })
    day_us = rng.integers(0, 7 * 365, s.orders) * US_PER_DAY - 29 * 365 * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), type=pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)]),
        "o_totalprice": pa.array(_money(rng, s.orders, 900.0, 500_000.0)),
        "o_orderdate": _ts(day_us),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, s.orders)]),
    })
    n_li = s.orders * s.lines_per_order
    li_order = np.repeat(np.arange(s.orders), s.lines_per_order)
    fs = rng.integers(0, len(FLAG_STATUS), n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.parts, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n_li), type=pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, s.lines_per_order + 1), s.orders),
                                 type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 100_000.0)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array([FLAG_STATUS[i][0] for i in fs]),
        "l_linestatus": pa.array([FLAG_STATUS[i][1] for i in fs]),
        "l_shipdate": _ts(day_us[li_order] + rng.integers(1, 122, n_li) * US_PER_DAY),
    })
    ev_us = np.sort(rng.integers(0, s.event_days * US_PER_DAY, s.events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(s.events), type=pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, max(1, s.customers // 10), s.events),
                            type=pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, s.events)]),
        "value": pa.array(_money(rng, s.events, 0.01, 500.0)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, s.events)]),
    })
    toks = np.array(VOCAB)[rng.integers(0, len(VOCAB), (s.documents, s.doc_tokens))]
    texts = [" ".join(row) for row in toks]
    for i in range(10, s.documents, 10):  # exact duplicates for the dedup operators
        texts[i] = texts[i - 7]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(s.documents), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, s.documents)]),
        "source": pa.array([f"src{i % 20}" for i in range(s.documents)]),
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
    })
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    label = rng.integers(0, 10, s.embeddings)
    vecs = (centroids[label] + rng.normal(0.0, 0.3, (s.embeddings, DIM))).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(s.embeddings), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })
    return t


def dim_tables(seed: int, shape: Shape) -> dict[str, pa.Table]:
    """users/products dimensions in the reference shape (run_pipeline)."""
    star = star_tables(seed, shape)
    cust, part, supp = star["customer"], star["part"], star["supplier"]
    supp_nation = supp["s_nationkey"].to_numpy()
    pk = part["p_partkey"].to_numpy()
    return {
        "users": pa.table({
            "user_id": cust["c_custkey"],
            "name": cust["c_name"],
            "country": cust["c_nationkey"],
        }),
        "products": pa.table({
            "product_id": part["p_partkey"],
            "name": part["p_name"],
            "category": part["p_type"],
            "base_price": part["p_retailprice"],
            "country": pa.array(supp_nation[pk % len(supp_nation)], type=pa.int32()),
            "discount": pa.array(part["p_size"].to_numpy().astype("float64")),
        }),
    }


def _transactions(rng: np.random.Generator, ids: np.ndarray, start_us: int, span_us: int,
                  shape: Shape) -> pa.Table:
    n = len(ids)
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "transaction_id": pa.array(ids, type=pa.int64()),
        "user_id": pa.array(rng.integers(0, shape.customers, n), type=pa.int64()),
        "product_id": pa.array(rng.integers(0, shape.parts, n), type=pa.int64()),
        "amount": pa.array(_money(rng, n, 1.0, 1000.0)),
        "payment_method": pa.array(
            np.array(PAYMENT_METHODS)[rng.integers(0, len(PAYMENT_METHODS), n)]),
        "timestamp": _ts(ts),
    })


def stream_backlog(seed: int, shape: Shape) -> list[pa.Table]:
    """Micro-batch files in event-time order: file k covers minutes
    [k*m, (k+1)*m) of event time, so no row is late for the 15-minute
    watermark and the trend windows close as the backlog drains."""
    rng = np.random.default_rng([seed, 2])
    span = shape.stream_file_minutes * 60_000_000
    n = shape.stream_rows_per_file
    return [
        _transactions(rng, np.arange(k * n, (k + 1) * n), k * span, span, shape)
        for k in range(shape.stream_files)
    ]


def load_days(seed: int, shape: Shape) -> list[pa.Table]:
    """One events-shaped table per day: history days then the
    incremental days. Each incremental day also re-sends a seeded set of
    earlier transaction ids with later timestamps and new amounts, so
    the loaders' keep-last MERGE has updates to apply."""
    rng = np.random.default_rng([seed, 3])
    n = shape.load_rows_per_day
    out = []
    for d in range(shape.load_history_days + shape.load_next_days):
        ids = np.arange(d * n, (d + 1) * n)
        if d >= shape.load_history_days:
            resent = rng.choice(d * n, shape.load_resend_per_day, replace=False)
            ids = np.concatenate([ids[: n - len(resent)], np.sort(resent)])
            rng.shuffle(ids)
        tx = _transactions(rng, ids, d * US_PER_DAY, US_PER_DAY, shape)
        # events shape: the engine's ingest adapter maps event_id →
        # transaction_id, value → amount, event_type → payment_method,
        # ts → timestamp and derives product_id from event_id.
        out.append(pa.table({
            "event_id": tx["transaction_id"],
            "ts": tx["timestamp"],
            "user_id": tx["user_id"],
            "event_type": tx["payment_method"],
            "value": tx["amount"],
            "props": pa.array(["{}"] * len(tx)),
        }))
    return out


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_star(seed: int, shape: Shape, out_dir: str, names=None) -> None:
    for name, table in star_tables(seed, shape).items():
        if names is None or name in names:
            write_table(table, os.path.join(out_dir, f"{name}.parquet"))
