"""Seeded inputs for the benchmark: the TPC-H-ish star schema plus the
events/documents/embeddings tables that ``__spark_entry__.queries()``
reads, with exact copies of some documents planted for the dedup checks.

The tables follow the column types in ``colnade_spark.tpch`` and the value
domains of the repository's sf fixtures (segment, status, priority and
flag alphabets, date ranges, price formulas), so every registry query
finds rows to work on. Documents and embeddings come from
``scripts/gen_scale_data.py``; the documents keep the fixtures' 31-word
vocabulary.
The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from scripts import gen_scale_data

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (dt.datetime(d.year, d.month, d.day) - _EPOCH).days


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _keyed(fmt: str, n: int) -> pa.Array:
    return pa.array([fmt % i for i in range(n)], type=pa.string())


def star_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    """region .. events at scale factor ``sf`` (lineitem has 6M x sf rows)."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev, n_users = int(6_000_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    part_keys = np.arange(n_part)
    ev_us = np.sort(rng.uniform(0, 30 * 86_400e6, n_ev)).astype("int64")
    ev_us += int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
    return {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": _keyed("NATION_%d", 25),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": _keyed("Customer#%09d", n_cust),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": _keyed("Supplier#%09d", n_supp),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(part_keys),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _dates(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _dates(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(range(n_ev)),
                "ts": pa.array(ev_us, type=pa.timestamp("us")),
                "user_id": i64(rng.integers(0, n_users, n_ev)),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
    }


def exact_copies(docs: pa.Table) -> list[int]:
    """doc_ids whose text equals the text of a smaller doc_id: the planted
    exact duplicates every dedup pipeline must drop."""
    seen: set[str] = set()
    out = []
    for i, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        if t in seen:
            out.append(i)
        seen.add(t)
    return out


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> int:
    """One parquet file per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=5000 if name in ("documents", "embeddings") else None)
        total += os.path.getsize(path)
    return total


def registry_tables(sf: float, n_docs: int, n_vecs: int, seed: int) -> dict[str, pa.Table]:
    """Every table the registry reads, at the fixtures' vocabulary."""
    rng = np.random.default_rng(seed)
    tables = star_tables(sf, rng)
    tables["documents"] = gen_scale_data.gen_documents(n_docs, rng, vocab_size=31)
    tables["embeddings"] = gen_scale_data.gen_embeddings(n_vecs, rng)
    return tables


def plant_copies(docs: pa.Table, n: int, seed: int) -> pa.Table:
    """``docs`` plus exact copies of ``n`` seeded documents, under the
    next ``n`` doc_ids."""
    rng = np.random.default_rng([seed, n])
    src = rng.choice(docs.num_rows, size=n, replace=False)
    copies = docs.take(pa.array(src))
    ids = pa.array(np.arange(docs.num_rows, docs.num_rows + n, dtype=np.int64))
    copies = copies.set_column(copies.schema.get_field_index("doc_id"), "doc_id", ids)
    return pa.concat_tables([docs, copies])
