"""Seeded input generator for the benchmark.

Writes the tables the benchmarked workloads read, one parquet file per
table, with the schemas `asvsp_spark.tables` declares and the shapes of
the engine's TPC-H-ish test fixtures: 25 nations in 5 regions, orders
dated 1995-01-01 .. 2001-08-01 with 1-7 line items each, 30 days of
events at ~139 per hour, and a word-salad document corpus with planted
exact and near duplicates. Row counts scale with ``sf`` the way the
fixtures do (sf0.1: 150k orders, ~600k line items, 100k events, 5000
documents).

The same (seed, sf) always writes byte-identical tables. The document
corpus is drawn from one fixed seed so that its funnel counts are known
in advance; the workload seed only shuffles its row order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("nation", "customer", "supplier", "orders", "lineitem")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.14, 0.15]
VOCAB = ("a the data spark stream batch table column row key value hash "
         "join sort merge scan filter group agg order line part customer "
         "query window vector fast slow big small").split()

EPOCH_DAY_1995 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = (np.datetime64("2001-08-01", "D") - EPOCH_DAY_1995).astype(int)
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_HOURS = 30 * 24
US_PER_HOUR = 3_600_000_000

CORPUS_SEED = 42

# exact and near duplicates planted per 1000 documents
EXACT_DUPS_PER_K = 2
NEAR_DUPS_PER_K = 50


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict | pa.Table) -> None:
    table = cols if isinstance(cols, pa.Table) else pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, dict]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))

    nation = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    customer = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }
    supplier = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    }
    order_day = rng.integers(0, ORDER_DAYS + 1, n_ord)
    orders = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": (EPOCH_DAY_1995 + order_day).astype("datetime64[us]"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    # 98% of the orders carry 1-7 line items, the rest none
    lines_per_order = np.where(rng.random(n_ord) < 0.98,
                               rng.integers(1, 8, n_ord), 0)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    n_line = l_order.size
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order,
                       lines_per_order)
    lineitem = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(np.arange(n_line) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": (EPOCH_DAY_1995 + order_day[l_order]
                       + rng.integers(1, 122, n_line)).astype("datetime64[us]"),
    }
    return {"nation": nation, "customer": customer, "supplier": supplier,
            "orders": orders, "lineitem": lineitem}


def events_table(rng: np.random.Generator, sf: float) -> dict:
    """Events sorted by ``ts``, spread uniformly over 30 days."""
    n = max(1000, int(1_000_000 * sf))
    offs = np.sort(rng.integers(0, EVENT_HOURS * US_PER_HOUR, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENTS_START + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def documents_table(rng: np.random.Generator, sf: float) -> dict:
    """Word-salad documents of 10-100 words; per 1000 documents, 50 are
    an earlier document plus one extra word (near duplicates) and 2 are
    verbatim copies (exact duplicates)."""
    n = max(500, int(50_000 * sf))
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.cumsum(lengths)
    texts = [" ".join(words[b - k:b]) for b, k in zip(bounds, lengths)]
    n_near = n * NEAR_DUPS_PER_K // 1000
    n_exact = n * EXACT_DUPS_PER_K // 1000
    copies = rng.choice(np.arange(n // 10, n), n_near + n_exact, replace=False)
    for i, doc in enumerate(copies):
        src = texts[int(rng.integers(0, doc))]
        texts[doc] = src + " dup" if i < n_near else src
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(out_dir: str, names: tuple[str, ...], seed: int,
                 sf: float) -> None:
    """Write the named tables under ``out_dir``.

    Each table draws from its own stream of ``seed``, so the tables a
    workload needs are the same whichever others it also asks for.
    """
    os.makedirs(out_dir, exist_ok=True)
    streams = {"tpch": 0, "events": 1, "documents": 2}

    def rng(kind: str) -> np.random.Generator:
        return np.random.default_rng([seed, streams[kind]])

    if set(names) & set(TPCH_TABLES):
        for name, cols in tpch_tables(rng("tpch"), sf).items():
            if name in names:
                _write(out_dir, name, cols)
    if "events" in names:
        _write(out_dir, "events", events_table(rng("events"), sf))
    if "documents" in names:
        docs = pa.table(documents_table(
            np.random.default_rng([CORPUS_SEED, streams["documents"]]), sf))
        _write(out_dir, "documents",
               docs.take(rng("documents").permutation(docs.num_rows)))


if __name__ == "__main__":
    import sys
    out, seed, sf, *tables = sys.argv[1:]
    write_tables(out, tuple(tables), int(seed), float(sf))
