"""Per-tick Spark job accounting read from Spark's own status store.

The status store keeps only ``spark.ui.retainedJobs`` jobs (default 1000),
about ten ticks' worth at 70-110 jobs per tick, so each tick's jobs are read
right after the tick.  ``AppStatusStore.job`` works with the UI disabled.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class JobRecord:
    job_id: int
    start: float            # seconds since the epoch
    end: float
    tasks: int
    description: str


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def tick_jobs(spark, group: str, clip_end: float) -> list[JobRecord]:
    """Jobs the status store holds for job group ``group``; a job still
    running (no completion time) is clipped at ``clip_end``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        j = store.job(int(jid))
        sub = _opt(j.submissionTime())
        end = _opt(j.completionTime())
        start = sub.getTime() / 1000.0 if sub is not None else clip_end
        out.append(JobRecord(
            int(jid), start,
            end.getTime() / 1000.0 if end is not None else clip_end,
            int(j.numTasks()), _opt(j.description(), "") or ""))
    return sorted(out, key=lambda r: r.job_id)


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
