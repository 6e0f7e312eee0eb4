"""Seeded inputs, DDL and correctness checks for the tick workloads.

Every input is generated from the workload seed with numpy on the driver,
before any tick is timed: the engine only ever receives pandas frames that
already exist, converted to Spark DataFrames (small local relations) just
before each tick's clock starts.

``sql_ticks``
    TPC-H-shaped ``orders``/``lineitem``/``customer``/``nation`` at
    scale factor 0.1 (150k orders, 600k lineitems) bulk-loaded in one tick,
    then ticks of ~1k inserted orders (+~4k lineitems) and ~200 retracted
    orders (+~850 lineitems) through three views: a linear GROUP BY, a
    MIN/MAX GROUP BY and a 4-way join GROUP BY.
``recursive_ticks``
    ``WITH RECURSIVE`` closure over the tree ``c_custkey -> c_custkey / 2``
    for customers 1..4000; ticks alternate between inserting 20 leaf
    customers (semi-naive) and retracting ~10 interior ones (DRed).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_NATIONS = 25
LINES_PER_ORDER = (1, 7)          # uniform, inclusive: mean 4 lines/order
TICK_INSERT_ORDERS = 1_000
TICK_RETRACT_ORDERS = 200

PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
STATUSES = np.array(["F", "O", "P"])

SQL_TICKS_TABLES = """
CREATE TABLE orders (o_orderkey BIGINT NOT NULL, o_custkey BIGINT,
                     o_orderstatus VARCHAR, o_totalprice DOUBLE,
                     o_orderpriority VARCHAR);
CREATE TABLE lineitem (l_orderkey BIGINT NOT NULL, l_linenumber INT,
                       l_quantity DOUBLE, l_extendedprice DOUBLE,
                       l_discount DOUBLE);
CREATE TABLE customer (c_custkey BIGINT NOT NULL, c_nationkey BIGINT);
CREATE TABLE nation (n_nationkey BIGINT NOT NULL, n_name VARCHAR);
"""

SQL_TICKS_VIEWS = {
    "status_rev": """
        SELECT o_orderstatus, COUNT(*) AS n_orders, SUM(o_totalprice) AS rev
        FROM orders GROUP BY o_orderstatus""",
    "prio_ext": """
        SELECT o_orderpriority, MIN(o_totalprice) AS lo,
               MAX(o_totalprice) AS hi
        FROM orders GROUP BY o_orderpriority""",
    "rev_nation": """
        SELECT n.n_name,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                        JOIN customer c ON o.o_custkey = c.c_custkey
                        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name""",
}

REC_MAX_KEY = 4_000
REC_INSERT = 20
REC_RETRACT = 10

RECURSIVE_TABLES = """
CREATE TABLE customer (c_custkey BIGINT NOT NULL, c_name VARCHAR);
"""

RECURSIVE_VIEWS = {
    "reach": f"""
        WITH RECURSIVE edges AS (
            SELECT c_custkey AS src, CAST(c_custkey / 2 AS BIGINT) AS dst
            FROM customer WHERE c_custkey BETWEEN 1 AND {REC_MAX_KEY}),
        paths AS (
            SELECT src, dst FROM edges
            UNION
            SELECT p.src, e.dst FROM paths p JOIN edges e ON p.dst = e.src)
        SELECT src, dst, src - dst AS gap FROM paths""",
}


@dataclass
class Tick:
    """One tick's pre-built input: ``(table, weight, rows)`` triples."""
    kind: str
    pushes: list[tuple[str, int, pd.DataFrame]]

    @property
    def rows(self) -> int:
        return sum(len(df) for _, _, df in self.pushes)


@dataclass
class Workload:
    tables_ddl: str
    #: named view -> its SELECT; the engine maintains it, and the check
    #: re-evaluates it from scratch with ``spark.sql``
    view_sql: dict[str, str]
    #: every view, named and hidden, in the order the engine steps them ->
    #: its expected lowering (``Engine.view_strategy``)
    strategies: dict[str, str]
    load: Tick
    ticks: list[Tick]
    #: view -> SQL Spark itself can evaluate, where it differs from the
    #: engine's text (Spark's recursive CTEs take UNION ALL only)
    recompute_sql: dict[str, str] = field(default_factory=dict)

    @property
    def views(self) -> list[str]:
        return list(self.strategies)

    @property
    def ddl(self) -> str:
        return self.tables_ddl + "".join(
            f"CREATE VIEW {v} AS {q};\n" for v, q in self.view_sql.items())


# ---------------------------------------------------------------- #
# sql_ticks
# ---------------------------------------------------------------- #

def _orders(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, len(STATUSES), n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n)],
    })


def _lineitems(rng: np.random.Generator, okeys: np.ndarray) -> pd.DataFrame:
    lo, hi = LINES_PER_ORDER
    per = rng.integers(lo, hi + 1, len(okeys))
    lkeys = np.repeat(okeys.astype(np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    n = len(lkeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame({
        "l_orderkey": lkeys,
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
    })


def sql_ticks(seed: int, n_ticks: int) -> Workload:
    """Bulk snapshot plus ``n_ticks`` mixed insert/retract ticks.

    Inserted orders are seeded copies of live orders under fresh keys (each
    tick draws its key block from a seeded permutation, so two seeds insert
    different keys); retractions pick live orders uniformly and retract
    exactly the rows the state holds, lineitems included."""
    rng = np.random.default_rng(seed)
    orders = _orders(rng, np.arange(N_ORDERS))
    lineitem = _lineitems(rng, orders["o_orderkey"].to_numpy())
    customer = pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_nationkey": rng.integers(0, N_NATIONS, N_CUSTOMERS,
                                    dtype=np.int64)})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(N_NATIONS, dtype=np.int64),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)]})
    load = Tick("load", [("orders", 1, orders), ("lineitem", 1, lineitem),
                         ("customer", 1, customer), ("nation", 1, nation)])

    live_o, live_l = orders, lineitem
    # fresh key blocks above the snapshot, permuted by the seed
    blocks = rng.permutation(n_ticks) + 1
    ticks = []
    for t in range(n_ticks):
        pick = rng.choice(len(live_o), TICK_INSERT_ORDERS, replace=False)
        new_keys = (N_ORDERS * (1 + blocks[t])
                    + rng.permutation(N_ORDERS)[:TICK_INSERT_ORDERS])
        ins_o = live_o.iloc[pick].reset_index(drop=True).assign(
            o_orderkey=new_keys.astype(np.int64))
        ins_l = _lineitems(rng, ins_o["o_orderkey"].to_numpy())
        gone = np.zeros(len(live_o), dtype=bool)
        gone[rng.choice(len(live_o), TICK_RETRACT_ORDERS, replace=False)] = True
        del_o = live_o[gone].reset_index(drop=True)
        l_gone = live_l["l_orderkey"].isin(del_o["o_orderkey"]).to_numpy()
        del_l = live_l[l_gone].reset_index(drop=True)
        live_o = pd.concat([live_o[~gone], ins_o], ignore_index=True)
        live_l = pd.concat([live_l[~l_gone], ins_l], ignore_index=True)
        ticks.append(Tick("mixed", [
            ("orders", 1, ins_o), ("lineitem", 1, ins_l),
            ("orders", -1, del_o), ("lineitem", -1, del_l)]))
    return Workload(
        SQL_TICKS_TABLES, SQL_TICKS_VIEWS,
        {"status_rev": "linear_agg", "prio_ext": "nonlinear_agg",
         "rev_nation": "multi_join_agg"},
        load, ticks)


# ---------------------------------------------------------------- #
# recursive_ticks
# ---------------------------------------------------------------- #

def _customers(keys) -> pd.DataFrame:
    keys = np.asarray(sorted(keys), dtype=np.int64)
    return pd.DataFrame({"c_custkey": keys,
                         "c_name": [f"Customer#{k:09d}" for k in keys]})


def recursive_ticks(seed: int, n_ticks: int) -> Workload:
    """Tree closure over customers 1..4000 with a seeded pool of held-back
    leaves.  Even ticks insert 20 held-back leaves; odd ticks retract ~10
    live interior customers from the bottom interior level (1001..2000),
    whose small subtrees keep each DRed suspect set in the hundreds."""
    rng = np.random.default_rng(seed)
    leaves = np.arange(REC_MAX_KEY // 2 + 1, REC_MAX_KEY + 1)
    n_ins = (n_ticks + 1) // 2
    held = rng.choice(leaves, REC_INSERT * n_ins, replace=False)
    live = set(range(1, REC_MAX_KEY + 1)) - set(held.tolist())
    load = Tick("load", [("customer", 1, _customers(live))])
    interior = rng.permutation(np.arange(REC_MAX_KEY // 4 + 1,
                                         REC_MAX_KEY // 2 + 1))
    ticks, ins_at, del_at = [], 0, 0
    for t in range(n_ticks):
        if t % 2 == 0:
            keys = held[ins_at:ins_at + REC_INSERT].tolist()
            ins_at += REC_INSERT
            live.update(keys)
            ticks.append(Tick("insert", [("customer", 1, _customers(keys))]))
        else:
            keys = interior[del_at:del_at + REC_RETRACT].tolist()
            del_at += REC_RETRACT
            live.difference_update(keys)
            ticks.append(Tick("retract",
                              [("customer", -1, _customers(keys))]))
    return Workload(
        RECURSIVE_TABLES, RECURSIVE_VIEWS,
        {"__reach_cte_edges": "project", "__reach_rec": "recursive",
         "reach": "project"},
        load, ticks,
        # a forest has one path per (src, dst): UNION ALL == UNION
        {"reach": RECURSIVE_VIEWS["reach"].replace("UNION", "UNION ALL")})


WORKLOADS = {"sql_ticks": sql_ticks, "recursive_ticks": recursive_ticks}
#: ticks per cycle of tick kinds: a run warms up on one cycle and times
#: whole cycles
CYCLE = {"sql_ticks": 1, "recursive_ticks": 2}


# ---------------------------------------------------------------- #
# correctness
# ---------------------------------------------------------------- #

def _norm(rows) -> list[tuple]:
    """Rows sorted by their non-double values (every view here is keyed by
    them), so rows pair up even where sums differ in the low bits."""
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple(repr(v) for v in r
                                      if not isinstance(v, float)))


def same_rows(got, want) -> bool:
    """Order-insensitive row equality; doubles compared to the cent (the
    incremental sums and a one-shot sum add in different orders)."""
    got, want = _norm(got), _norm(want)
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=0.005):
                    return False
            elif x != y:
                return False
    return True
