"""Tick-latency benchmark for the incremental SQL engine and the query
registry.

    python3 tickbench/run.py --workload sql_ticks --seed 1 --seconds 10 \\
        --trace 0

Runs one workload on ``local[<cores>]`` with one closed-loop client: the
driver thread starts the next operation only after the previous one has
returned.  Everything is timed from outside the package, around public
entry points; Spark's job intervals come from its status store through
py4j.

Tick workloads (``sql_ticks``, ``recursive_ticks``; inputs in
``tickbench/workloads.py``): an operation is a tick, from the first
``Engine.push`` until every named view's output delta has been collected.
After set-up and one warm-up cycle of tick kinds the run times
``seconds / NOMINAL_TICK_S`` ticks (at least ``MIN_TICKS``), rounded up to
whole cycles.

``batch_registry`` (inputs in ``tickbench/registry.py``): an operation is
one run of a registry query, ``REGISTRY[name].fn(spark, dir)`` plus
collecting its rows.  After one warm-up pass over the query set the run
times ``seconds / NOMINAL_PASS_S`` passes (at least one).

End-to-end metrics (``--trace 0``):

``tick_p50_s``, ``tick_tail_s``
    median and tail of the timed operations' wall times; the tail is the
    highest percentile with ten operations beyond it, else the maximum.
``changes_per_s``
    input rows over the summed operation wall time: delta rows pushed
    (inserts and retractions) for ticks, rows of the tables each query
    reads for the registry.
``registry_total_s``
    the sum, over the operation kinds, of each kind's median wall time:
    one of each query for ``batch_registry``, one tick of each kind for the
    tick workloads.
``setup_s``
    ``Engine()`` + ``execute`` + one bulk-load tick + the warm-up cycle for
    the tick workloads; the warm-up pass for ``batch_registry``.
``state_mb``
    Spark storage (memory + disk) from ``getRDDStorageInfo``, read without
    forcing any garbage collection: for the tick workloads, the median
    over the timed ticks of the storage of the RDDs created since set-up
    began, read after each tick; for
    ``batch_registry``, the sum over the timed queries of the storage of
    the RDDs each query created, read as it returns (a one-shot query
    starts from nothing).  Traced runs also report the part still
    referenced after forced garbage collection
    (``spark.state_referenced_mb``).

Failed operations count in ``failed``; a wrong final result counts every
operation of the run as failed.  ``--trace 1`` wraps the layer calls
(``tickbench/trace.py``), prints the per-layer metrics and writes the spans
to ``.tickbench/spans_<workload>_<seed>.json``.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  Run
from the repository root; all scratch files stay under ``.tickbench/``
there.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from tickbench import registry  # noqa: E402
from tickbench.jobs import tick_jobs, union_seconds  # noqa: E402
from tickbench.trace import Tracer  # noqa: E402
from tickbench.workloads import CYCLE, WORKLOADS, same_rows  # noqa: E402

ALL_WORKLOADS = sorted([*WORKLOADS, "batch_registry"])

#: a tick on 4 cores takes about this long, a registry pass about this
#: long: ``--seconds`` buys ``seconds / NOMINAL_*`` timed ticks or passes.
#: The count depends on nothing measured, so every run and every commit
#: times the same operations and reads state after the same work
NOMINAL_TICK_S = 5.0
NOMINAL_PASS_S = 8.0
MIN_TICKS = 4
#: a tail percentile needs this many operations beyond it
TAIL_SAMPLES = 10
DRIVER_MEMORY = "3g"
#: GC rounds before reading the storage the engine still references, and
#: the time Spark's ContextCleaner gets after each to drop what nothing
#: references
GC_ROUNDS = 4
CLEANER_WAIT_S = 0.5
#: per-layer metrics with their units; every traced run prints all of them
#: (0 where a layer takes no part in the workload)
VIEW_SLOTS = 3
LAYER_UNITS = {
    "spark.jobs_per_tick": "count", "spark.tasks_per_tick": "count",
    "spark.in_jobs_s_per_tick": "s", "spark.driver_s_per_tick": "s",
    "spark.job_ms_start": "ms", "spark.job_ms_end": "ms",
    "spark.state_referenced_mb": "MiB",
    "sql.execute_s": "s", "sql.load_tick_s": "s", "sql.step_s": "s",
    "sql.output_s": "s", "sql.output_rows": "count",
    "sql.views_stepped": "count", "sql.views_skipped": "count",
    "sql.unattributed_jobs": "count",
    **{f"sql.view{k}.{m}": u for k in range(VIEW_SLOTS)
       for m, u in (("step_s", "s"), ("jobs", "count"))},
    "plans.state_updates": "count", "plans.state_update_s": "s",
    "plans.state_replaces": "count",
    "tuning.checkpoints": "count", "tuning.checkpoint_s": "s",
    "zset.consolidates": "count",
    "operators.recursive.rounds_seminaive": "count",
    "operators.recursive.rounds_dred": "count",
    "operators.recursive.jobs_per_round": "count",
    "operators.recursive.dred_useful_ratio": "ratio",
    **{f"queries.{q}.{m}": u for q in registry.QUERIES
       for m, u in (("s", "s"), ("jobs", "count"))},
    "trace.tick_p50_s": "s",
}


# ------------------------------------------------------------------ #
# Spark session lifetime
# ------------------------------------------------------------------ #

def start_spark(work: Path):
    """A session whose scratch files all live under ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM spark-submit starts: temp files under ``work``, and no
    # performance-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}"]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_MASTER", None)
    from database_stream_processor_spark.session import get_spark
    spark = get_spark(
        app_name="tickbench", shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_listeners(spark) -> None:
    """Let the status store catch up with the jobs just finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def storage_mib(spark, after_rdd: int) -> float:
    """Memory + disk bytes of the cached/checkpointed RDDs newer than
    ``after_rdd``, in MiB (driver metadata; starts no job)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in infos if int(i.id()) > after_rdd) / 2**20


def referenced_storage_mib(spark, after_rdd: int) -> float:
    """``storage_mib`` less what nothing references any more: garbage is
    collected on both sides of py4j ``GC_ROUNDS`` times and the smallest
    read kept (no job runs in between, so storage can only shrink)."""
    reads = []
    for _ in range(GC_ROUNDS):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(CLEANER_WAIT_S)
        reads.append(storage_mib(spark, after_rdd))
    return min(reads)


def job_ms(spark, n: int = 15) -> float:
    """Median wall time of a trivial Spark job, in ms (host label)."""
    lat = []
    for _ in range(n):
        t0 = time.time()
        spark.range(1).count()
        lat.append(time.time() - t0)
    return statistics.median(lat) * 1000.0


def job_stats(spark, group: str, t0: float, t1: float) -> dict:
    """Jobs, tasks and in-jobs seconds of job group ``group`` between
    ``t0`` and ``t1``."""
    wait_listeners(spark)
    jobs = tick_jobs(spark, group, t1)
    return {"jobs": len(jobs), "tasks": sum(j.tasks for j in jobs),
            "in_jobs": union_seconds([(j.start, j.end) for j in jobs],
                                     t0, t1),
            "job_list": jobs}


def tail(values: list[float]) -> tuple[float, str]:
    """Highest of p99/p95/p90/p75/p50 with ``TAIL_SAMPLES`` values beyond
    it; the maximum when there are too few values for any of them."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= TAIL_SAMPLES:
            return statistics.quantiles(values, n=100,
                                        method="inclusive")[p - 1], f"p{p}"
    return max(values), "max"


def _med(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def end_to_end(ops: list[dict], setup_s: float, state: float) -> dict:
    """The end-to-end metrics from the timed operations' records (each has
    ``kind``, ``wall`` and ``rows``)."""
    walls = [o["wall"] for o in ops]
    kinds = {o["kind"] for o in ops}
    return {
        "tick_p50_s": (statistics.median(walls), "s"),
        "tick_tail_s": (tail(walls)[0], "s"),
        "changes_per_s": (sum(o["rows"] for o in ops) / sum(walls), "1/s"),
        "registry_total_s": (sum(_med(o["wall"] for o in ops
                                      if o["kind"] == k) for k in kinds),
                             "s"),
        "setup_s": (setup_s, "s"),
        "state_mb": (state, "MiB"),
    }


def run(workload: str, seed: int, seconds: float, trace: bool,
        work: Path) -> dict:
    t0 = time.time()
    spark, cores = start_spark(work)
    print(f"# spark up in {time.time() - t0:.1f}s", flush=True)
    try:
        if workload == "batch_registry":
            return _run_registry(spark, cores, seed, seconds, trace, work)
        return _run_ticks(spark, cores, workload, seed, seconds, trace, work)
    finally:
        stop_spark(spark)


def _result(ok, attempted, failed, metrics) -> dict:
    return {"correct": ok, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


def _dump_spans(tracer, records, work, workload, seed) -> None:
    spans = tracer.dump()
    own: dict[str, float] = {}
    for sp in spans:
        own[sp["name"]] = own.get(sp["name"], 0.0) + sp["self_s"]
    print("# self time per operation: " + " ".join(
        f"{k} {v / len(records):.3f}s" for k, v in own.items()), flush=True)
    out = work / f"spans_{workload}_{seed}.json"
    out.write_text(json.dumps({"operations": records, "spans": spans}))
    print(f"# spans -> {out.relative_to(ROOT)} (tickbench/report.py prints "
          f"the tracing overhead)", flush=True)


# ------------------------------------------------------------------ #
# tick workloads
# ------------------------------------------------------------------ #

def _read_outputs(out, views, tracer):
    rows = []
    for v in views:
        if tracer:
            tracer.describe(f"output {v}")
        rows.extend((v, r) for r in out[v].df.collect())
    return rows


def run_tick(spark, eng, pushes, outputs, i, tracer, views) -> dict:
    """One timed tick: push every delta, ``step()``, collect each output
    view's delta.  Spark DataFrames are built from the pre-generated rows
    before the clock starts; job accounting is read after it stops."""
    sc = spark.sparkContext
    frames = [(t, w, spark.createDataFrame(df)) for t, w, df in pushes]
    group = f"tickbench-tick-{i}-{time.monotonic_ns()}"
    sc.setJobGroup(group, f"tick {i}")
    if tracer:
        tracer.begin_tick(i)
    span = tracer.span if tracer else (lambda name: nullcontext())
    with span("tick"):
        t0 = time.time()
        with span("sql.step"):
            for table, w, df in frames:
                eng.push(table, df, weight=w)
            out = eng.step()
        t1 = time.time()
        with span("sql.output"):
            rows = _read_outputs(out, outputs, tracer)
        t2 = time.time()
    stats = job_stats(spark, group, t0, t2)
    jobs = stats.pop("job_list")
    rec = {"i": i, "group": group, "wall": t2 - t0, "step": t1 - t0,
           "output": t2 - t1, "out_rows": len(rows), **stats}
    if tracer:
        rec.update(_tick_layers(tracer, eng, views, jobs, rows))
    return rec


def setup(spark, wl):
    """A fresh engine: ``Engine()`` + ``execute`` + one bulk-load tick.
    Returns the engine, its timings and the RDD id reached just before it
    (newer RDDs hold the run's state).  The bulk input is materialized
    before the clock starts."""
    from database_stream_processor_spark.sql import Engine
    sc = spark.sparkContext
    load = [(t, w, spark.createDataFrame(df).localCheckpoint(eager=True))
            for t, w, df in wl.load.pushes]
    marker = int(sc._jsc.sc().newRddId())
    sc.setJobGroup("tickbench-setup", "setup")
    t0 = time.time()
    eng = Engine(spark)
    eng.execute(wl.ddl)
    t1 = time.time()
    for table, w, df in load:
        eng.push(table, df, weight=w)
    out = eng.step()
    _read_outputs(out, list(wl.view_sql), None)
    t2 = time.time()
    print(f"# setup: execute {t1 - t0:.3f}s load tick {t2 - t1:.3f}s",
          flush=True)
    got = {v: eng.view_strategy(v) for v in eng._maintainers}
    if list(got.items()) != list(wl.strategies.items()):
        raise RuntimeError(f"views lowered as {got}, "
                           f"expected {wl.strategies}")
    return eng, {"execute_s": t1 - t0, "load_tick_s": t2 - t1}, marker


def check(spark, eng, wl, expected: dict[str, int]
          ) -> tuple[bool, float, list[str]]:
    """Final table row counts against the inputs pushed, then every named
    view against a from-scratch ``spark.sql`` evaluation of its SQL over
    the engine's final table snapshots.  Returns (ok, recompute seconds,
    problems)."""
    problems = []
    for t, n in expected.items():
        snap = eng.view(t)
        got = snap.count()
        if got != n:
            problems.append(f"table {t}: {got} rows, expected {n}")
        snap.createOrReplaceTempView(t)
    t0 = time.time()
    want = {v: spark.sql(wl.recompute_sql.get(v, q)).collect()
            for v, q in wl.view_sql.items()}
    recompute_s = time.time() - t0
    for v in wl.view_sql:
        got = eng.view(v).collect()
        if not same_rows(_by_name(got), _by_name(want[v])):
            problems.append(f"view {v}: {len(got)} rows differ from the "
                            f"{len(want[v])}-row recompute")
    return not problems, recompute_s, problems


def _by_name(rows):
    return [tuple(r[c] for c in sorted(r.__fields__)) for r in rows]


def _run_ticks(spark, cores, workload, seed, seconds, trace, work) -> dict:
    phase = [("start", time.time())]
    cycle = CYCLE[workload]
    # whole cycles keep alternating tick kinds balanced
    timed = -(-max(MIN_TICKS, round(seconds / NOMINAL_TICK_S))
              // cycle) * cycle
    # the first cycle of tick kinds compiles each kind's small-delta plans:
    # it is timed into setup_s, not into the tick metrics
    wl = WORKLOADS[workload](seed, timed + cycle)
    print(f"# {workload} seed={seed} local[{cores}] load={wl.load.rows} rows"
          f" tick_rows={[t.rows for t in wl.ticks]}", flush=True)

    phase.append(("inputs", time.time()))
    eng, setup_times, marker = setup(spark, wl)
    warm_s = 0.0
    for i, tick in enumerate(wl.ticks[:cycle]):
        rec = run_tick(spark, eng, tick.pushes, list(wl.view_sql), i, None,
                       wl.views)
        warm_s += rec["wall"]
        print(f"# warm-up tick {i} {tick.kind} rows={tick.rows} "
              f"wall={rec['wall']:.3f}s jobs={rec['jobs']}", flush=True)
    phase.append(("setup", time.time()))
    probe_start = job_ms(spark) if trace else None
    attempted, failed = 1 + cycle, 0

    tracer = Tracer(spark) if trace else None
    if tracer:
        tracer.install(eng)
    ticks = []
    try:
        for i, tick in enumerate(wl.ticks[cycle:cycle + timed], cycle):
            attempted += 1
            try:
                rec = run_tick(spark, eng, tick.pushes, list(wl.view_sql), i,
                               tracer, wl.views)
            except Exception as e:  # a failed tick leaves the engine unusable
                failed += 1
                print(f"# tick {i} failed: {e!r}", flush=True)
                break
            rec.update(kind=tick.kind, rows=tick.rows,
                       held=storage_mib(spark, marker))
            ticks.append(rec)
            print(f"# tick {i} {tick.kind} rows={tick.rows} "
                  f"wall={rec['wall']:.3f}s jobs={rec['jobs']} "
                  f"in_jobs={rec['in_jobs']:.3f}s out_rows={rec['out_rows']}"
                  f" held={rec['held']:.1f}MiB", flush=True)
    finally:
        if tracer:
            tracer.uninstall()
    if not ticks:
        raise RuntimeError("no tick completed")
    # how much garbage Spark's cleaner has dropped by the time of a read
    # depends on when the JVM last collected it: the median over the ticks
    # evens that out
    state = _med(t["held"] for t in ticks)
    referenced = referenced_storage_mib(spark, marker) if trace else None

    phase.append(("ticks", time.time()))
    expected: dict[str, int] = {}
    for tick in [wl.load] + wl.ticks[:cycle + len(ticks)]:
        for table, w, df in tick.pushes:
            expected[table] = expected.get(table, 0) + w * len(df)
    ok, recompute_s, problems = check(spark, eng, wl, expected)
    for p in problems:
        print(f"# MISMATCH {p}", flush=True)
    if not ok:
        failed = attempted

    phase.append(("check", time.time()))
    print("# phases " + " ".join(f"{n} {t - phase[k][1]:.1f}s"
                                 for k, (n, t) in enumerate(phase[1:])),
          flush=True)
    metrics = end_to_end(ticks, sum(setup_times.values()) + warm_s, state)
    print(f"# ticks={len(ticks)} tick_p50_s={metrics['tick_p50_s'][0]:.3f}"
          f" tick_tail_s={metrics['tick_tail_s'][0]:.3f}"
          f" ({tail([t['wall'] for t in ticks])[1]})"
          f" recompute_s={recompute_s:.3f}"
          f" setup_s={metrics['setup_s'][0]:.3f} state_mb={state:.1f}"
          f" error_rate={failed / attempted:.3f}"
          f" jobs_per_tick={[t['jobs'] for t in ticks]}", flush=True)

    if trace:
        metrics = _tick_layer_metrics(ticks, setup_times, wl.views)
        metrics.update(_probe_metrics(spark, probe_start, referenced))
        print("# " + " ".join(f"view{k}={v}" for k, v in
                              enumerate(wl.views)), flush=True)
        _dump_spans(tracer, ticks, work, workload, seed)
    return _result(ok, attempted, failed, metrics)


def _tick_layers(tracer, eng, views, jobs, rows) -> dict:
    """One traced tick's layer split: per-view wall and jobs, layer call
    counts, and the recursive view's round statistics."""
    view_s = {v: 0.0 for v in views}
    for s in tracer.spans:
        if s.tick == tracer.tick and s.name.startswith("sql.view."):
            view_s[s.name[len("sql.view."):-len(".step")]] += s.end - s.start
    view_jobs = {v: 0 for v in views}
    unattributed = 0
    for j in jobs:
        what = j.description.split(" ", 3)[2:]     # tick <n> view|output <v>
        if len(what) == 2 and what[1] in view_jobs:
            view_jobs[what[1]] += 1
        else:
            unattributed += 1
    rec = {"view_s": view_s, "view_jobs": view_jobs,
           "unattributed": unattributed,
           "stepped": len(tracer.stepped),
           "skipped": len(eng._maintainers) - len(tracer.stepped),
           **_layer_calls(tracer)}
    for v in tracer.stepped:
        if eng.view_strategy(v) == "recursive":
            st = dict(eng._maintainers[v].last_stats)
            st["jobs"] = view_jobs[v]
            # net rows retracted = negative weights in the named outputs
            st["retracted"] = sum(-r["__weight"] for _, r in rows
                                  if r["__weight"] < 0)
            rec["recursive"] = st
    return rec


def _layer_calls(tracer) -> dict:
    """Call counts and times of the wrapped layer calls since the current
    tick (or pass) began."""
    layer_s = {}
    for s in tracer.spans:
        if s.tick == tracer.tick and s.name in ("plans.state_update",
                                                "tuning.checkpoint_small"):
            layer_s[s.name] = layer_s.get(s.name, 0.0) + s.end - s.start
    return {"counts": dict(tracer.counts),
            "state_update_s": layer_s.get("plans.state_update", 0.0),
            "checkpoint_s": layer_s.get("tuning.checkpoint_small", 0.0)}


def _spark_and_calls(ops) -> dict:
    """The ``spark.*``, ``plans.*``, ``tuning.*`` and ``zset.*`` layer
    metrics: medians over the traced ticks (or passes)."""
    m = {
        "spark.jobs_per_tick": _med(t["jobs"] for t in ops),
        "spark.tasks_per_tick": _med(t["tasks"] for t in ops),
        "spark.in_jobs_s_per_tick": _med(t["in_jobs"] for t in ops),
        "spark.driver_s_per_tick": _med(t["wall"] - t["in_jobs"]
                                        for t in ops),
        "plans.state_update_s": _med(t["state_update_s"] for t in ops),
        "tuning.checkpoint_s": _med(t["checkpoint_s"] for t in ops),
    }
    for key in ("plans.state_updates", "plans.state_replaces",
                "tuning.checkpoints", "zset.consolidates"):
        m[key] = _med(t["counts"].get(key, 0) for t in ops)
    return m


def _with_units(values: dict) -> dict:
    """Every per-layer metric, 0 where ``values`` has none."""
    return {k: (values.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}


def _probe_metrics(spark, probe_start, referenced) -> dict:
    return {"spark.job_ms_start": (probe_start, "ms"),
            "spark.job_ms_end": (job_ms(spark), "ms"),
            "spark.state_referenced_mb": (referenced, "MiB")}


def _tick_layer_metrics(ticks, setup_times, views) -> dict:
    m = _spark_and_calls(ticks)
    m.update({
        "sql.execute_s": setup_times["execute_s"],
        "sql.load_tick_s": setup_times["load_tick_s"],
        "sql.step_s": _med(t["step"] for t in ticks),
        "sql.output_s": _med(t["output"] for t in ticks),
        "sql.output_rows": _med(t["out_rows"] for t in ticks),
        "sql.views_stepped": _med(t["stepped"] for t in ticks),
        "sql.views_skipped": _med(t["skipped"] for t in ticks),
        "sql.unattributed_jobs": sum(t["unattributed"] for t in ticks),
        "trace.tick_p50_s": _med(t["wall"] for t in ticks),
    })
    for k, v in enumerate(views):
        m[f"sql.view{k}.step_s"] = _med(t["view_s"][v] for t in ticks)
        m[f"sql.view{k}.jobs"] = _med(t["view_jobs"][v] for t in ticks)
    rs = [t["recursive"] for t in ticks if "recursive" in t]
    semi = [r for r in rs if r["mode"] == "seminaive"]
    dred = [r for r in rs if r["mode"] == "dred"]
    suspects = sum(r["suspects"] for r in dred)
    m["operators.recursive.rounds_seminaive"] = _med(r["rounds"]
                                                     for r in semi)
    m["operators.recursive.rounds_dred"] = _med(r["rounds"] for r in dred)
    m["operators.recursive.jobs_per_round"] = _med(
        r["jobs"] / r["rounds"] for r in rs if r["rounds"])
    m["operators.recursive.dred_useful_ratio"] = (
        sum(r["retracted"] for r in dred) / suspects if suspects else 0.0)
    return _with_units(m)


# ------------------------------------------------------------------ #
# batch_registry
# ------------------------------------------------------------------ #

def run_query(spark, name: str, data: Path, i: int, tracer) -> dict:
    """One timed query run: build the query and collect its rows.  ``held``
    is the storage of the RDDs the run created, read once it returns."""
    from database_stream_processor_spark.queries import REGISTRY
    sc = spark.sparkContext
    marker = int(sc._jsc.sc().newRddId())
    group = f"tickbench-query-{i}-{name}-{time.monotonic_ns()}"
    sc.setJobGroup(group, f"query {i} {name}")
    span = tracer.span if tracer else (lambda name: nullcontext())
    with span(f"queries.{name}"):
        t0 = time.time()
        df = REGISTRY[name].fn(spark, str(data))
        rows = df.collect()
        t1 = time.time()
    held = storage_mib(spark, marker)
    stats = job_stats(spark, group, t0, t1)
    del stats["job_list"]
    return {"i": i, "kind": name, "wall": t1 - t0, "out_rows": len(rows),
            "held": held, **stats, "result": (rows, df.columns)}


@contextmanager
def _recording_loads():
    """Wrap the registry's table loader so each call's table name lands in
    the yielded list; the warm-up pass learns which tables each query
    reads."""
    from database_stream_processor_spark import queries
    orig, seen = queries.load, []

    def load(spark, sf_dir, name):
        seen.append(name)
        return orig(spark, sf_dir, name)

    queries.load = load
    try:
        yield seen
    finally:
        queries.load = orig


def _run_registry(spark, cores, seed, seconds, trace, work) -> dict:
    phase = [("start", time.time())]
    passes = max(1, round(seconds / NOMINAL_PASS_S))
    data = work / f"registry_{seed}"
    table_rows = registry.write_tables(seed, data)
    print(f"# batch_registry seed={seed} local[{cores}] tables={table_rows}"
          f" queries={len(registry.QUERIES)} passes={passes}", flush=True)
    sc = spark.sparkContext
    marker = int(sc._jsc.sc().newRddId())

    phase.append(("inputs", time.time()))
    attempted, failed = 0, 0
    input_rows = {}
    t0 = time.time()
    with _recording_loads() as seen:
        for name in registry.QUERIES:        # the warm-up pass
            attempted += 1
            seen.clear()
            rec = run_query(spark, name, data, 0, None)
            input_rows[name] = sum(table_rows[t] for t in set(seen))
            print(f"# warm-up query {name} wall={rec['wall']:.3f}s "
                  f"jobs={rec['jobs']} reads={sorted(set(seen))}", flush=True)
    setup_s = time.time() - t0
    phase.append(("setup", time.time()))
    probe_start = job_ms(spark) if trace else None

    tracer = Tracer(spark) if trace else None
    if tracer:
        tracer.install(None)
    runs, per_pass, results = [], [], {}
    try:
        for p in range(1, passes + 1):
            if tracer:
                tracer.begin_tick(p)
            pass_runs = []
            for name in registry.QUERIES:
                attempted += 1
                try:
                    rec = run_query(spark, name, data, p, tracer)
                except Exception as e:
                    failed += 1
                    print(f"# query {p} {name} failed: {e!r}", flush=True)
                    continue
                results[name] = rec.pop("result")
                rec["rows"] = input_rows[name]
                pass_runs.append(rec)
                print(f"# query {p} {name} rows={rec['rows']} "
                      f"wall={rec['wall']:.3f}s jobs={rec['jobs']} "
                      f"in_jobs={rec['in_jobs']:.3f}s "
                      f"out_rows={rec['out_rows']} "
                      f"held={rec['held']:.1f}MiB", flush=True)
            runs += pass_runs
            per_pass.append({
                **{k: sum(r[k] for r in pass_runs)
                   for k in ("wall", "jobs", "tasks", "in_jobs", "held")},
                **(_layer_calls(tracer) if tracer else {})})
    finally:
        if tracer:
            tracer.uninstall()
    if not runs:
        raise RuntimeError("no query completed")
    # a one-shot query's state starts empty: what a pass holds is the sum
    # of what each query holds when it returns (earlier queries' leftovers
    # go whenever the JVM next collects garbage)
    state = _med(p["held"] for p in per_pass)
    referenced = referenced_storage_mib(spark, marker) if trace else None

    phase.append(("queries", time.time()))
    problems = registry.oracle_problems(results, data)
    for p in problems:
        print(f"# MISMATCH {p}", flush=True)
    ok = not problems
    if not ok:
        failed = attempted

    phase.append(("check", time.time()))
    print("# phases " + " ".join(f"{n} {t - phase[k][1]:.1f}s"
                                 for k, (n, t) in enumerate(phase[1:])),
          flush=True)
    metrics = end_to_end(runs, setup_s, state)
    print(f"# runs={len(runs)} tick_p50_s={metrics['tick_p50_s'][0]:.3f}"
          f" registry_total_s={metrics['registry_total_s'][0]:.3f}"
          f" setup_s={setup_s:.3f} state_mb={state:.1f}"
          f" error_rate={failed / attempted:.3f}"
          f" jobs_per_pass={[p['jobs'] for p in per_pass]}", flush=True)

    if trace:
        m = _spark_and_calls(per_pass)
        m["trace.tick_p50_s"] = _med(r["wall"] for r in runs)
        for q in registry.QUERIES:
            m[f"queries.{q}.s"] = _med(r["wall"] for r in runs
                                       if r["kind"] == q)
            m[f"queries.{q}.jobs"] = _med(r["jobs"] for r in runs
                                          if r["kind"] == q)
        metrics = _with_units(m)
        metrics.update(_probe_metrics(spark, probe_start, referenced))
        _dump_spans(tracer, runs, work, "batch_registry", seed)
    return _result(ok, attempted, failed, metrics)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=ALL_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import database_stream_processor_spark  # noqa: F401  (fail fast)
    work = ROOT / ".tickbench"
    try:
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), work)
    finally:
        for d in work.glob("registry_*"):
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(work / "spark-local", ignore_errors=True)
        shutil.rmtree(work / "tmp", ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
