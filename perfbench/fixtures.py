"""Seeded input generation for the benchmark.

``write_tables`` writes the ten fixture tables the catalog reads
(``session.TABLES``) as parquet, with the schemas and value domains of
the TPC-H-ish fixture set described in FIXTURES.md: uniform keys, the
TPC-H region/segment/priority vocabularies, a 30-word document
vocabulary with ~5% near-duplicate documents, and unit-norm 64-d
embeddings. Row counts scale linearly with ``sf`` (lineitem = 6e6 × sf).

``write_etl_csvs`` writes the order, line and change files the ETL
workload loads.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _keyed(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _dates(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    days = _EPOCH_1995 + rng.integers(0, span_days, n)
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(8, 100, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # ~5% near-duplicates: an earlier document plus one extra token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": _keyed("Customer", n_cust),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": _keyed("Supplier", n_supp),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, len(PART_ADJ), n_part),
                            rng.integers(0, len(PART_NOUN), n_part),
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _dates(rng, n_ord, 2404),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _dates(rng, n_line, 2500),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(range(n_ev)),
                "ts": pa.array(
                    _EPOCH_2024_US
                    + np.cumsum(rng.integers(1, 2 * 30 * _DAY_US // max(n_ev, 1), n_ev)),
                    type=pa.timestamp("us"),
                ),
                "user_id": i64(rng.integers(0, max(int(15_000 * sf), 10), n_ev)),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _orders(rng: np.random.Generator, ids: np.ndarray, n_customers: int) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "order_id": pa.array(ids.astype(np.int64)),
            "customer_id": pa.array(rng.integers(0, n_customers, n)),
            "status": _pick(rng, ["F", "O", "P"], n),
            "priority": _pick(rng, PRIORITIES, n),
            "amount": pa.array(_money(rng, 10.0, 5000.0, n)),
            "order_date": pa.array(
                (_EPOCH_1995 + rng.integers(0, 2404, n)).astype(np.int32), type=pa.date32()
            ),
        }
    )


def write_etl_csvs(out_dir: str, seed: int, n_orders: int, parts: int) -> dict[str, list[str]]:
    """Write seeded CSV files (with headers) under ``out_dir``, one
    subdirectory per kind; return the paths per kind.

    - ``orders/orders_NN.csv``: ``parts`` files of unique-keyed orders;
    - ``lines/lines_NN.csv``: ``parts`` files of order lines (4 per order);
    - ``changes/changes_NN.csv``: two change sets for MERGE, each half
      updates of existing orders and half new orders.

    Dates are ISO strings, so a schema-inferring load types them as dates.
    """
    rng = np.random.default_rng(seed + 7919)
    n_customers = max(n_orders // 10, 1)
    n_lines = 4 * n_orders
    orders = _orders(rng, np.arange(n_orders), n_customers)
    lines = pa.table(
        {
            "order_id": pa.array(rng.integers(0, n_orders, n_lines)),
            "line_no": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
            "sku": pa.array([f"SKU-{k:05d}" for k in rng.integers(0, 5000, n_lines)]),
            "qty": pa.array(rng.integers(1, 51, n_lines).astype(np.int32)),
            "price": pa.array(_money(rng, 1.0, 900.0, n_lines)),
        }
    )
    n_change = max(n_orders // 20, 2)
    changes = [
        _orders(
            rng,
            np.concatenate(
                [
                    rng.choice(n_orders, n_change // 2, replace=False),
                    n_orders + k * n_change + np.arange(n_change - n_change // 2),
                ]
            ),
            n_customers,
        )
        for k in range(2)
    ]
    paths: dict[str, list[str]] = {}
    for kind, tables in (
        ("orders", _split(orders, parts)),
        ("lines", _split(lines, parts)),
        ("changes", changes),
    ):
        os.makedirs(os.path.join(out_dir, kind), exist_ok=True)
        paths[kind] = []
        for k, table in enumerate(tables):
            path = os.path.join(out_dir, kind, f"{kind}_{k:02d}.csv")
            pacsv.write_csv(table, path)
            paths[kind].append(path)
    return paths


def _split(table: pa.Table, parts: int) -> list[pa.Table]:
    step = -(-table.num_rows // parts)
    return [table.slice(k * step, step) for k in range(parts)]
