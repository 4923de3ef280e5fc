"""Benchmark inputs: the ten-table star schema the query registry reads.

The table contents are fixed for a given scale factor (generated from a
constant seed, with the shapes of the repository's sf0.1 corpus: uniform
TPC-H-ish keys and measures, a 30-day Poisson event stream, a 31-word
document vocabulary with 5% "dup"-suffixed near-duplicates, and 64-d unit
embeddings). The workload seed only permutes each table's rows, so every
seed sees the same row multiset -- and therefore the same oracle answers --
in a different physical order.

Physical types follow the corpus: 32-bit keys for the small dimensions,
``TIMESTAMP(MICROS)`` for order/ship dates and ``TIMESTAMP(NANOS)`` for
``events.ts`` (the type the package's reader normalises).
"""

from __future__ import annotations

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

CONTENT_SEED = 42
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "ns")
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _rows(sf: float, base: int) -> int:
    return max(1, int(round(base * sf)))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The fixed table contents at scale factor ``sf`` (row counts as in
    TPC-H: 6M lineitem per unit; events/documents/embeddings scale too)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = _rows(sf, 150_000), _rows(sf, 10_000), _rows(sf, 200_000)
    n_ord, n_line = _rows(sf, 1_500_000), _rows(sf, 6_000_000)
    n_ev, n_users = _rows(sf, 1_000_000), _rows(sf, 15_000)
    n_doc, n_vec = _rows(sf, 50_000), _rows(sf, 20_000)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_day = rng.integers(0, 2405, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    ship_day = rng.integers(0, 2405, n_line) + rng.integers(1, 96, n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(_EPOCH_1995 + ship_day * _DAY_US, pa.timestamp("us")),
        }
    )
    # Poisson arrivals over a fixed 30-day window, ids in time order
    gaps = rng.exponential(1.0, n_ev)
    offs_ns = (np.cumsum(gaps) / gaps.sum() * 30 * 86_400e9 * 0.9999).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": _keys(n_ev),
            "ts": pa.array(_EPOCH_2024 + offs_ns, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), rng.integers(10, 101))]
            texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": _keys(n_doc),
            "text": texts,
            "lang": pa.array(np.asarray(_LANGS, dtype=object)[rng.choice(5, n_doc, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vec),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32)),
        }
    )
    return t


def write_inputs(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ``sf`` tables to ``out_dir/<table>.parquet``, each table's
    rows permuted by ``seed``; returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for i, (name, table) in enumerate(build_tables(sf).items()):
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def physical_schema(path: str) -> list[tuple[str, str, str]]:
    """(column path, physical type, logical type) of each parquet leaf."""
    schema = pq.ParquetFile(path).schema
    return [
        (c.path, c.physical_type, str(c.logical_type))
        for c in (schema.column(i) for i in range(len(schema)))
    ]
