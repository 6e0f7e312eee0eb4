"""Every end-to-end metric of every workload, plus the traced-run checks.

    python3 tickbench/report.py --seed 1 --seconds 10

For each workload, runs ``tickbench/run.py`` untraced and then traced on
the same inputs.  Prints each end-to-end metric with its unit, the error
rate (failed / attempted operations), the tracing overhead (traced tick
p50 minus untraced tick p50) and the per-operation job counts of both
runs.  Exits 1 unless every run was correct, both runs started the same
number of Spark jobs in every operation they share, and the traced run
attributed every tick's jobs to a view.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tickbench.run import ALL_WORKLOADS  # noqa: E402

RUN = Path(__file__).resolve().parent / "run.py"


def run(workload: str, seed: int, seconds: float,
        trace: int) -> tuple[dict, list[int]]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout.splitlines()
    jobs = [int(m.group(1)) for line in out
            if (m := re.match(r"# (?:tick|query) \d+ .* jobs=(\d+)", line))]
    return json.loads(out[-1]), jobs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    ok = True
    for wl in ALL_WORKLOADS:
        plain, plain_jobs = run(wl, args.seed, args.seconds, 0)
        traced, traced_jobs = run(wl, args.seed, args.seconds, 1)
        for name, m in plain["metrics"].items():
            print(f"{wl:16s} {name:16s} {m['value']:12.4f} {m['unit']}")
        print(f"{wl:16s} {'error_rate':16s} "
              f"{plain['failed'] / plain['attempted']:12.4f} "
              f"({plain['failed']}/{plain['attempted']})")
        p50 = plain["metrics"]["tick_p50_s"]["value"]
        t50 = traced["metrics"]["trace.tick_p50_s"]["value"]
        n = min(len(plain_jobs), len(traced_jobs))
        same = plain_jobs[:n] == traced_jobs[:n]
        unattributed = traced["metrics"]["sql.unattributed_jobs"]["value"]
        print(f"{wl:16s} tracing overhead {t50 - p50:+.3f}s "
              f"({(t50 - p50) / p50:+.1%}); jobs per operation untraced="
              f"{plain_jobs} traced={traced_jobs}; unattributed jobs="
              f"{unattributed:.0f}")
        ok &= (plain["correct"] and traced["correct"] and same
               and unattributed == 0)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
