"""Candidate-frame ablation: poll cycles at sf0.1 in one session.

After the benchmark's 7 warm-up cycles, runs ON/OFF/ON/OFF/ON phases of
N cycles (default 8) on the perfbench poll loop.  OFF drops the
persisted candidate frame and bypasses ``caching.memo``, so the hoisted
plan runs uncached; the first cycle of each phase pays the switch and
is left out.  Prints each phase and then one JSON line of medians.

    python3 plans/candidate_frame/ablate.py [N]
"""

import json
import pathlib
import shutil
import statistics
import sys

ROOT = pathlib.Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))

import run as pb  # noqa: E402

run_dir = ROOT / ".perfbench" / "ablate"
shutil.rmtree(run_dir, ignore_errors=True)
pb.configure_env(run_dir, None)

import inputs  # noqa: E402
from workloads import Poller  # noqa: E402

sf_dir, _ = inputs.dataset(ROOT, ROOT / ".perfbench" / "data", pb.WORKLOADS["poll-sf0.1"])
spark = pb.start_spark()

from transitdata_omm_cancellation_source_spark import caching  # noqa: E402
from transitdata_omm_cancellation_source_spark.plans import cancellation  # noqa: E402

poller = Poller(spark, sf_dir, run_dir / "poll", 201)
poller.warm_up()
real_memo = cancellation.memo
out: dict = {"on": [], "off": []}
n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
for phase in ["on", "off", "on", "off", "on"]:
    if phase == "off":
        caching.forget("cancellation.candidates")
        cancellation.memo = lambda name, src, compute, frame=False: src
    else:
        cancellation.memo = real_memo
    walls = [poller.cycle() for _ in range(n)]
    out[phase] += walls[1:]
    print(phase, [round(w, 3) for w in walls], flush=True)
print(json.dumps({k: {"median": statistics.median(v), "n": len(v), "walls": v}
                  for k, v in out.items()}))
pb.stop_spark(spark)
