"""Warm against cold disk artifact tier on the registry-mix workload.

Runs ``perfbench/run.py --workload registry-mix --trace 1`` in a checkout,
alternating a cold run (``.perfbench/artifacts`` deleted first) and a
warm one (the tier the previous run left), one seed per run, and appends
one JSON line per run to OUT: the mode, the seed, the process wall, the
run's summary line and, from its trace file, the Spark totals of the jobs
without a job description (the untimed checking pass, which builds a
cold tier, and the warm-up).

    python3 plans/disk_tier/measure.py CHECKOUT FIRST_SEED PAIRS OUT
"""

import json
import pathlib
import shutil
import subprocess
import sys
import time

checkout, first, pairs, out = (pathlib.Path(sys.argv[1]), int(sys.argv[2]),
                               int(sys.argv[3]), sys.argv[4])
for i in range(2 * pairs):
    mode, seed = ("cold", "warm")[i % 2], first + i
    if mode == "cold":
        shutil.rmtree(checkout / ".perfbench" / "artifacts", ignore_errors=True)
    t0 = time.perf_counter()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "registry-mix",
                        "--seed", str(seed), "--seconds", "6", "--trace", "1"],
                       cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    trace = json.loads((checkout / ".perfbench" / "traces" / f"registry-mix-seed{seed}.json").read_text())
    with open(out, "a") as f:
        f.write(json.dumps({
            "mode": mode, "seed": seed, "process_wall_s": round(wall, 2),
            "undescribed_jobs": trace["spark_by_description"].get(""),
            "result": json.loads(p.stdout.strip().splitlines()[-1]),
        }) + "\n")
