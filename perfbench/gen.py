"""Seeded input generator for the benchmark workloads.

Runs as its own step before the engine is touched: it writes parquet
files shaped like the engine's fixture tables (``schemas.FIXTURE_TABLES``)
into a directory, and the engine only ever reads those files.  The same
seed always gives byte-identical tables.

- :func:`pos_fixture` writes ``orders``, ``lineitem``, ``part``,
  ``customer`` and ``nation`` with one order date per day (midnight
  timestamps, like the TPC-H-shaped fixtures) at a fixed density of
  orders per day.
- :func:`document_batch` writes one ``documents`` table with a fixed
  share of planted exact and near duplicates.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: first order date of every POS fixture
EPOCH = dt.datetime(1995, 1, 1)
#: the sf0.1 fixture's sizes and order density
ORDERS_PER_DAY = 62
N_PARTS = 20_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_NATIONS = 25
#: shares of a document batch: planted exact and near duplicates, and
#: low-quality noise among the base documents
EXACT_SHARE = 0.1
NEAR_SHARE = 0.1
LOW_QUALITY_SHARE = 0.05

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_ADJ = np.array(["hot", "large", "small", "blue", "green", "steel", "brass"])
_NOUN = np.array(["bolt", "ring", "nut", "gear", "screw", "pipe", "valve"])
_RETURNFLAG = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["O", "F"])


def _str(prefix: str, values: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        pa.array(np.full(len(values), prefix)), pa.array(values.astype(str)), ""
    )


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(start: np.ndarray) -> pa.Array:
    """Day offsets from EPOCH → millisecond timestamps."""
    base = np.datetime64(EPOCH, "ms")
    return pa.array(base + start.astype("timedelta64[D]"), pa.timestamp("ms"))


def pos_fixture(out_dir: str, seed: int, n_days: int) -> dict[str, np.ndarray]:
    """Write the five POS source tables; return the per-row day offsets
    the benchmark needs to count rows per window without the engine:
    ``order_day`` (per order), ``line_order_day`` and ``ship_day``
    (per line item)."""
    rng = np.random.default_rng(seed)
    n_orders = n_days * ORDERS_PER_DAY
    order_day = np.repeat(np.arange(n_days), ORDERS_PER_DAY)
    rng.shuffle(order_day)
    orderkey = np.arange(n_orders, dtype=np.int64)
    custkey = rng.integers(0, N_CUSTOMERS, n_orders)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": orderkey,
        "o_custkey": custkey,
        "o_orderstatus": _STATUS[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 450_000, n_orders), 2),
        "o_orderdate": _days(order_day),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n_orders)],
    }))

    per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(orderkey, per_order)
    starts = np.cumsum(per_order) - per_order
    linenumber = (np.arange(len(l_order)) - np.repeat(starts, per_order) + 1).astype(np.int32)
    n_lines = len(l_order)
    line_order_day = order_day[l_order]
    ship_day = line_order_day + rng.integers(1, 122, n_lines)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, N_PARTS, n_lines),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n_lines),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _RETURNFLAG[rng.integers(0, 3, n_lines)],
        "l_linestatus": _LINESTATUS[rng.integers(0, 2, n_lines)],
        "l_shipdate": _days(ship_day),
    }))

    partkey = np.arange(N_PARTS, dtype=np.int64)
    names = pc.binary_join_element_wise(
        pa.array(_ADJ[rng.integers(0, len(_ADJ), N_PARTS)]),
        pa.array(_NOUN[rng.integers(0, len(_NOUN), N_PARTS)]),
        " ",
    )
    _write(out_dir, "part", pa.table({
        "p_partkey": partkey,
        "p_name": names,
        "p_brand": _str("Brand#", rng.integers(1, 26, N_PARTS)),
        "p_type": _TYPES[rng.integers(0, len(_TYPES), N_PARTS)],
        "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": np.round(900 + partkey % 1000 / 10.0, 2),
    }))

    custs = np.arange(N_CUSTOMERS, dtype=np.int64)
    _write(out_dir, "customer", pa.table({
        "c_custkey": custs,
        "c_name": pa.array([f"Customer#{k:09d}" for k in custs]),
        "c_nationkey": rng.integers(0, N_NATIONS, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, N_CUSTOMERS)],
    }))

    nations = np.arange(N_NATIONS, dtype=np.int32)
    _write(out_dir, "nation", pa.table({
        "n_nationkey": nations,
        "n_name": _str("NATION_", nations),
        "n_regionkey": (nations % 5).astype(np.int32),
    }))
    return {"order_day": order_day, "line_order_day": line_order_day, "ship_day": ship_day}


_VOCAB = np.array(
    "the and of to is in that it spark data table row column key value join "
    "group sort scan filter merge stream batch window hash order query vector "
    "line part customer fast slow big small agg index cache shuffle plan "
    "stage task driver worker block page file".split()
)
_LANGS = np.array(["en", "en", "de", "fr", "es", "zh"])


def document_batch(out_dir: str, seed: int, n_docs: int) -> None:
    """Write one ``documents`` table of ``n_docs`` rows.

    Base documents are 30-60 words drawn from a small vocabulary.  Of
    the rest, ``EXACT_SHARE`` copy a base document verbatim, and
    ``NEAR_SHARE`` copy one with a single word replaced (word-3-gram
    Jaccard well above 0.5).  ``LOW_QUALITY_SHARE`` of the base
    documents are digit-and-punctuation noise that the quality filter
    drops."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    n_low = int(n_base * LOW_QUALITY_SHARE)
    texts: list[str] = []
    for i in range(n_base):
        if i < n_low:
            texts.append(" ".join(f"{x}!?;" for x in rng.integers(0, 999, 20)))
        else:
            words = _VOCAB[rng.integers(0, len(_VOCAB), rng.integers(30, 61))]
            texts.append(" ".join(words))
    donors = rng.integers(n_low, n_base, n_exact + n_near)
    for j, d in enumerate(donors):
        if j < n_exact:
            texts.append(texts[d])
        else:
            words = texts[d].split(" ")
            words[rng.integers(0, len(words))] = "edited"
            texts.append(" ".join(words))
    order = rng.permutation(n_docs)
    docs = [texts[k] for k in order]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
        "source": _str("src", rng.integers(0, 8, n_docs)),
        "n_chars": pa.array(np.array([len(t) for t in docs], dtype=np.int64)),
    }))
