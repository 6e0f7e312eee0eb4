"""The benchmark's own checks.  Run from the repository root:

    python3 -m pytest tickbench/test_tickbench.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tickbench.jobs import union_seconds  # noqa: E402
from tickbench.workloads import WORKLOADS  # noqa: E402


def test_union_seconds_merges_and_clips():
    assert union_seconds([], 0, 10) == 0
    assert union_seconds([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_seconds([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_seconds([(4, 4)], 0, 10) == 0


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_inputs_other_seed_other_keys(name):
    a, b, c = (WORKLOADS[name](seed, 6) for seed in (7, 7, 8))
    assert [t.rows for t in a.ticks] == [t.rows for t in b.ticks]
    for ta, tb in zip(a.ticks, b.ticks):
        for (xa, wa, da), (xb, wb, db) in zip(ta.pushes, tb.pushes):
            assert (xa, wa) == (xb, wb) and da.equals(db)
    key = {"sql_ticks": "o_orderkey", "recursive_ticks": "c_custkey"}[name]
    keys = [set(df[key]) for t in a.ticks for _, _, df in t.pushes
            if key in df]
    other = [set(df[key]) for t in c.ticks for _, _, df in t.pushes
             if key in df]
    assert keys != other


def test_same_rows_pairs_rows_by_key_and_compares_doubles_to_the_cent():
    from tickbench.workloads import same_rows
    got = [(2, "b", 10.0000000001), (1, "a", 0.3)]
    assert same_rows(got, [(1, "a", 0.1 + 0.2), (2, "b", 10.0)])
    assert not same_rows(got, [(1, "a", 0.31), (2, "b", 10.0)])
    assert not same_rows(got, [(1, "a", 0.3)])


def test_registry_tables_are_seeded():
    from tickbench.registry import make_tables
    a, b, c = (make_tables(seed) for seed in (7, 7, 8))
    assert {k: t.num_rows for k, t in a.items()} == \
        {k: t.num_rows for k, t in b.items()}
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["events"].equals(c["events"])
    assert not a["orders"].equals(c["orders"])


def test_end_to_end_metrics():
    from tickbench.run import end_to_end
    ops = [{"kind": "ins", "wall": 1.0, "rows": 10},
           {"kind": "del", "wall": 3.0, "rows": 20},
           {"kind": "ins", "wall": 2.0, "rows": 30}]
    m = {k: v for k, (v, _) in end_to_end(ops, 5.0, 7.0).items()}
    assert m["tick_p50_s"] == 2.0 and m["tick_tail_s"] == 3.0
    assert m["changes_per_s"] == 60 / 6.0
    assert m["registry_total_s"] == 1.5 + 3.0
    assert (m["setup_s"], m["state_mb"]) == (5.0, 7.0)


def test_retractions_remove_live_rows_only():
    wl = WORKLOADS["sql_ticks"](3, 4)
    live = set(wl.load.pushes[0][2]["o_orderkey"])
    for t in wl.ticks:
        for table, w, df in t.pushes:
            if table != "orders":
                continue
            keys = set(df["o_orderkey"])
            if w < 0:
                assert keys <= live
                live -= keys
            else:
                assert not keys & live
                live |= keys


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from tickbench.run import start_spark, stop_spark
    s, _ = start_spark(tmp_path_factory.mktemp("tickbench"))
    yield s
    stop_spark(s)


def _tiny_engine(spark):
    from database_stream_processor_spark.sql import Engine
    from tickbench.workloads import RECURSIVE_TABLES, RECURSIVE_VIEWS
    eng = Engine(spark)
    eng.execute(RECURSIVE_TABLES + f"CREATE VIEW reach AS "
                f"{RECURSIVE_VIEWS['reach']};")
    return eng


def _ticks():
    import pandas as pd
    return [
        [("customer", 1, pd.DataFrame({"c_custkey": range(1, 64),
                                        "c_name": "x"}))],
        [("customer", 1, pd.DataFrame({"c_custkey": [64, 65],
                                        "c_name": "x"}))],
        [("customer", -1, pd.DataFrame({"c_custkey": [20],
                                         "c_name": "x"}))],
    ]


def _next_job_id(spark) -> int:
    """The id Spark's scheduler gives the next job: job ids are sequential,
    so its growth counts every job started, in any job group."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


def test_job_accounting_and_traced_ticks_add_no_jobs(spark):
    """In-jobs time never exceeds the tick's wall time, the job count is
    every job the scheduler started during the tick, and tracing the same
    ticks starts the same jobs, each attributed to a view."""
    from tickbench.run import run_tick
    from tickbench.trace import Tracer
    counts = {}
    for traced in (False, True):
        eng = _tiny_engine(spark)
        tracer = Tracer(spark) if traced else None
        if tracer:
            tracer.install(eng)
        recs, started = [], []
        try:
            for i, pushes in enumerate(_ticks()):
                before = _next_job_id(spark)
                recs.append(run_tick(
                    spark, eng, pushes, ["reach"], i, tracer,
                    ["__reach_cte_edges", "__reach_rec", "reach"]))
                started.append(_next_job_id(spark) - before)
        finally:
            if tracer:
                tracer.uninstall()
        for r, n in zip(recs, started):
            assert 0 <= r["in_jobs"] <= r["wall"]
            assert r["jobs"] == n > 0
            if traced:
                assert r["unattributed"] == 0
                assert sum(r["view_jobs"].values()) == r["jobs"]
        counts[traced] = [r["jobs"] for r in recs]
    assert counts[True] == counts[False]


def test_same_results_pairs_rows_despite_last_bit_differences():
    from tickbench.registry import _normal, same_results
    cols = ["k", "v"]
    got = _normal([("b", 1955507936.229494), ("a", 0.5)], cols)
    want = _normal([("a", 0.5), ("b", 1955507936.2294939)], cols)
    assert same_results(got, want)
    assert not same_results(got, _normal([("a", 0.5), ("b", 1.0)], cols))
    assert not same_results(got, want[:1])
