"""Value-entry ablation of the session memo: registry-mix passes at sf0.01 in one session.

After the benchmark's untimed checking pass, runs ROUNDS rounds (default
5) of one ON and one OFF timed pass of the perfbench registry mix,
alternating which goes first.  OFF swaps ``caching.memo`` in every
engine module for one that stores frame entries as usual but never
stores a value entry, so the trained quantizer and codebook are read
from the disk tier, and the corpus count and pagerank's pass count are
recomputed, at every use.  Prints each pass and then one JSON line of
medians.

    python3 plans/vector_index/ablate_value_memo.py [ROUNDS]
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
from workloads import Mix, Run  # noqa: E402

sf_dir, _ = inputs.dataset(ROOT, ROOT / ".perfbench" / "data", pb.WORKLOADS["registry-mix"])
spark = pb.start_spark()

from transitdata_omm_cancellation_source_spark import caching  # noqa: E402

real_memo = caching.memo


def no_value_memo(name, source, compute, *, frame=False):
    if frame:
        return real_memo(name, source, compute, frame=True)
    return None if compute is None else compute()


run = Run()
mix = Mix(spark, sf_dir, 201)
mix.checked_pass(run)  # imports every engine module the mix uses
users = [m for name, m in list(sys.modules.items())
         if name.startswith("transitdata_omm_cancellation_source_spark")
         and getattr(m, "memo", None) is real_memo]
out: dict = {"on": [], "off": []}
rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
for r in range(rounds):
    for phase in ("on", "off") if r % 2 == 0 else ("off", "on"):
        for m in users:
            m.memo = real_memo if phase == "on" else no_value_memo
        wall = mix.timed_pass(run)
        out[phase].append(wall)
        print(phase, round(wall, 3), flush=True)
print(json.dumps({"failed": run.failed, "users": sorted(m.__name__ for m in users),
                  **{k: {"median": statistics.median(v), "walls": v} for k, v in out.items()}}))
pb.stop_spark(spark)
