"""Seeded inputs for the benchmark workloads.

Two input sets, both a pure function of the seed:

- ``write_star_schema``: the TPC-H-shaped star schema plus the events,
  documents and embeddings tables that the registry queries read. The
  benchmark may read nothing outside its source tree, and the engine's
  reference test tables are not part of that tree, so it writes its own
  copy of them: the same column layout (one parquet file per table,
  timestamps as microsecond TIMESTAMP without zone), row counts, key
  domains, value ranges, text vocabulary and lengths, language mix and
  clustered embeddings, drawn from the seed.
- ``olist_deliveries``: an Olist landing zone for the medallion pipeline.
  The initial delivery comes straight from ``make_olist_fixtures``; each
  incremental delivery is another fixture set whose orders are re-keyed
  so that most are new orders and, on update deliveries, some replace
  orders of the initial delivery.
"""

from __future__ import annotations

import csv
import os
import re
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64

_TS_US = pa.timestamp("us")


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, type=_TS_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables for scale factor ``sf`` into
    ``out_dir``; returns row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * sf))
    n_orders = max(1000, int(1_500_000 * sf))
    n_items = max(4000, int(6_000_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_items),
        "l_partkey": rng.integers(0, n_part, n_items),
        "l_suppkey": rng.integers(0, n_supp, n_items),
        "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_items),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_items),
        "l_linestatus": rng.choice(("O", "F"), n_items),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_items),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, type=_TS_US),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.02, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = rng.normal(size=(n_emb, EMB_DIM)) + 0.5 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })
    return {
        "customer": n_cust, "orders": n_orders, "lineitem": n_items,
        "part": n_part, "supplier": n_supp, "events": n_events,
        "documents": n_docs, "embeddings": n_emb,
    }


# --------------------------------------------------------------- Olist

DELIVERY_TABLES = ("orders", "order_items", "order_payments")
_ORDER_ID = re.compile(r"^order_(\d{5})$")


@dataclass
class Delivery:
    """One landing of files, processed by one pipeline run at ``clock``.

    ``files`` maps a landing-relative path to the staged file that lands
    there; ``replay`` lists landing-relative paths of files that already
    landed and are delivered again unchanged."""

    index: int
    clock: datetime
    files: dict[str, str]
    replay: tuple[str, ...] = ()
    late: bool = False


def _split_customer_duplicate(landing: str) -> None:
    """Move the fixture's in-file duplicate customer row into a file of
    its own: two rows with one key, one clock and one source file have
    no defined winner, while across files the later file name wins."""
    src = os.path.join(landing, "customers", "customers_d000.csv")
    with open(src, newline="") as f:
        rows = list(csv.reader(f))
    header, body = rows[0], rows[1:]
    dup = body.pop()  # make_fixtures appends the duplicate last
    for path, part in ((src, body), (src.replace("d000", "d000b"), [dup])):
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(part)


def _rekey_orders(src_dir: str, dst_dir: str, mapping) -> None:
    """Copy the delivery tables from a fixture set, rewriting order ids
    with ``mapping(i)`` for ids of the form ``order_NNNNN``."""
    for table in DELIVERY_TABLES:
        os.makedirs(os.path.join(dst_dir, table), exist_ok=True)
        for name in os.listdir(os.path.join(src_dir, table)):
            with open(os.path.join(src_dir, table, name), newline="") as f:
                rows = list(csv.reader(f))
            for r in rows[1:]:
                m = _ORDER_ID.match(r[0])
                if m:
                    r[0] = mapping(int(m.group(1)))
            with open(os.path.join(dst_dir, table, name), "w", newline="") as f:
                csv.writer(f).writerows(rows)


def olist_deliveries(
    root: str,
    seed: int,
    n_orders: int,
    delivery_orders: int,
    n_deliveries: int,
    update_share: float = 0.2,
) -> tuple[str, list[Delivery]]:
    """Build the initial landing zone and stage ``n_deliveries``
    incremental deliveries under ``root``. Returns the landing directory
    (holding the initial delivery) and the delivery list, initial one
    first.

    Delivery 1 re-lands one file of the initial delivery (a replay);
    delivery 2 carries an older clock than the initial delivery (late
    data) and only new orders; the others update ``update_share`` of
    their orders on keys of the initial delivery."""
    from tools.make_olist_fixtures import make_fixtures

    rng = np.random.default_rng(seed)
    landing = os.path.join(root, "landing")
    n_customers = max(100, n_orders // 3)
    sizes = dict(
        n_customers=n_customers,
        n_products=max(50, n_orders // 40),
        n_sellers=max(20, n_orders // 200),
    )
    make_fixtures(landing, seed=seed, n_orders=n_orders, file_suffix="d000", **sizes)
    _split_customer_duplicate(landing)
    clock0 = datetime(2024, 6, 1, 12, 0, 0)
    initial = Delivery(0, clock0, {})
    deliveries = [initial]
    next_id = n_orders
    for k in range(1, n_deliveries + 1):
        raw = os.path.join(root, "raw", f"d{k:03d}")
        make_fixtures(
            raw, seed=seed * 1000 + k, n_orders=delivery_orders,
            file_suffix=f"d{k:03d}", **sizes,
        )
        late = k == 2
        n_upd = 0 if late else int(delivery_orders * update_share)
        existing = rng.choice(n_orders, size=n_upd, replace=False)
        base = next_id

        def mapping(i: int, existing=existing, base=base, n_upd=n_upd) -> str:
            j = int(existing[i]) if i < n_upd else base + i - n_upd
            return f"order_{j:05d}"

        next_id += delivery_orders - n_upd
        staged = os.path.join(root, "staged", f"d{k:03d}")
        _rekey_orders(raw, staged, mapping)
        shutil.rmtree(raw)
        files = {
            os.path.join(t, n): os.path.join(staged, t, n)
            for t in DELIVERY_TABLES
            for n in sorted(os.listdir(os.path.join(staged, t)))
        }
        clock = clock0 - timedelta(days=1) if late else clock0 + timedelta(hours=k)
        replay = (os.path.join("orders", "orders_d000.csv"),) if k == 1 else ()
        deliveries.append(Delivery(k, clock, files, replay, late))
    return landing, deliveries
