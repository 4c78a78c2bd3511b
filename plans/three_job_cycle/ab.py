"""Alternating parent/change pairs of one perfbench workload.

Runs ``perfbench/run.py --workload WORKLOAD --trace 0`` in two checkouts,
one fresh seed per pair, the parent first in even pairs and the change
first in odd ones, and appends one JSON line per run to OUT: workload,
seed, pair, arm, the CPU steal share during the run (from /proc/stat)
and the run's summary line.

    python3 plans/three_job_cycle/ab.py PARENT CHANGE WORKLOAD FIRST_SEED PAIRS OUT
"""

import json
import subprocess
import sys


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


parent, change, workload, first, pairs, out = sys.argv[1:7]
for pair in range(int(pairs)):
    seed = int(first) + pair
    arms = [("parent", parent), ("change", change)]
    for arm, checkout in arms if pair % 2 == 0 else arms[::-1]:
        before = cpu_times()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", "6", "--trace", "0"],
                           cwd=checkout, capture_output=True, text=True)
        delta = [b - a for a, b in zip(before, cpu_times())]
        with open(out, "a") as f:
            f.write(json.dumps({
                "workload": workload, "seed": seed, "pair": pair, "arm": arm,
                "steal": f"{100 * delta[7] / sum(delta):.1f}%",
                "result": json.loads(p.stdout.strip().splitlines()[-1]),
            }) + "\n")
