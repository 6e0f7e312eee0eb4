"""Seeded input tables and the DuckDB oracle for the ``batch_registry``
workload.

The registry queries read parquet tables from a directory
(``REGISTRY[name].fn(spark, sf_dir)``).  ``write_tables`` generates the
tables they need at scale factor 0.1 from the workload seed, with the
column names and types of the TPC-H-shaped test schema (``lineitem``,
``orders``, ``customer``, ``nation``) plus the ``events``, ``documents``
and ``embeddings`` tables, and writes them before anything is timed.
``oracle_problems`` runs each query's DuckDB oracle over the same files
and compares it with the rows Spark returned.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: a fixed subset of ``bench.py``'s headline set, one or two per operator
#: family: relational (q01, q02), windows (q20), as-of (q22), dedup (q27),
#: similarity (q30), ``plans`` join/aggregate ops (q37), recursion (q39),
#: ``Circuit`` rolling aggregate (q42) and ``plans.incremental`` tumbling
#: windows (q43)
QUERIES = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q20_hopping_window",
    "q22_asof_enrich",
    "q27_lsh_near_dup_pairs",
    "q30_cosine_topk",
    "q37_incremental_revenue",
    "q39_transitive_closure",
    "q42_incremental_rolling",
    "q43_incremental_tumbling",
]

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_NATIONS = 25
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBEDDING_DIM = 64
N_LABELS = 10

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WORDS = np.array(
    "a agg batch column customer data fast filter group hash join key line "
    "order part query scan slow small sort spark stream table the value "
    "vector window".split())
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + n_days.astype("timedelta64[D]")


def _orders_lineitem(rng) -> tuple[pd.DataFrame, pd.DataFrame]:
    odate = _days("1995-01-01", rng.integers(0, 2404, N_ORDERS))
    orders = pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, N_ORDERS)],
    })
    per = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(orders["o_orderkey"].to_numpy(), per)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": (np.arange(n) - np.repeat(np.cumsum(per) - per, per)
                         + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": np.repeat(odate, per)
        + rng.integers(1, 122, n).astype("timedelta64[D]"),
    })
    return orders, lineitem


def _documents(rng) -> pd.DataFrame:
    """Word-salad documents; every tenth is a near-copy of an earlier one
    (two words replaced), so the dedup queries find pairs."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for at in rng.integers(0, len(words), 2):
                words[at] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = list(WORDS[rng.integers(0, len(WORDS),
                                            rng.integers(10, 90))])
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[
            rng.integers(0, 5, N_DOCUMENTS)],
        "source": [f"src{k}" for k in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    """Unit vectors scattered around one centroid per label."""
    label = rng.integers(0, N_LABELS, N_EMBEDDINGS).astype(np.int32)
    centre = rng.normal(size=(N_LABELS, EMBEDDING_DIM))
    v = centre[label] + rng.normal(scale=1.5,
                                   size=(N_EMBEDDINGS, EMBEDDING_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, v.size + 1, EMBEDDING_DIM, dtype=np.int32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, v.ravel()),
        "label": pa.array(label),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    orders, lineitem = _orders_lineitem(rng)
    customer = pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, N_NATIONS, N_CUSTOMERS).astype(
            np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9_999.99, N_CUSTOMERS), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, N_CUSTOMERS)],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(N_NATIONS, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": (np.arange(N_NATIONS) % 5).astype(np.int32),
    })
    ts = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    events = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES),
                                               N_EVENTS)],
        "value": np.round(rng.exponential(60.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    tables = {name: pa.Table.from_pandas(df, preserve_index=False)
              for name, df in [("orders", orders), ("lineitem", lineitem),
                               ("customer", customer), ("nation", nation),
                               ("events", events),
                               ("documents", _documents(rng))]}
    tables["embeddings"] = _embeddings(rng)
    return tables


def write_tables(seed: int, out: Path) -> dict[str, int]:
    """Write the seeded tables as ``<out>/<table>.parquet``; returns the row
    count of each."""
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, out / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------- #
# oracle
# ---------------------------------------------------------------- #

def _cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(row) -> tuple:
    """Doubles rounded to 6 significant digits, so rows whose doubles differ
    only in the last bits still sort to the same place."""
    return tuple(float(f"{v:.6g}") if isinstance(v, float) else repr(v)
                 for v in row)


def _normal(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows),
                  key=_sort_key)


def same_results(got, want) -> bool:
    """Row lists equal in any order; doubles compared to a relative 1e-9
    (DuckDB and Spark round a decimal sum cast to double differently in the
    last bit)."""
    if len(got) != len(want):
        return False
    return all(
        math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
        if isinstance(x, float) and isinstance(y, float) else x == y
        for a, b in zip(got, want) for x, y in zip(a, b))


def oracle_problems(results: dict[str, tuple[list, list[str]]],
                    data: Path) -> list[str]:
    """Compare each query's Spark rows and columns with its DuckDB oracle
    over the same parquet files: same column names, same rows in any
    order.  Returns one line per mismatch."""
    import duckdb

    from database_stream_processor_spark.queries import REGISTRY
    con = duckdb.connect(config={"threads": 2})
    for t in ("nation", "customer", "orders", "lineitem", "events",
              "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data / t}.parquet')")
    problems = []
    for name, (rows, cols) in results.items():
        cur = con.execute(REGISTRY[name].oracle)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(cols) != sorted(ocols):
            problems.append(f"{name}: columns {sorted(cols)} != {sorted(ocols)}")
        elif not same_results(_normal(rows, cols), _normal(orows, ocols)):
            problems.append(f"{name}: {len(rows)} rows differ from the "
                            f"{len(orows)}-row oracle")
    con.close()
    return problems
