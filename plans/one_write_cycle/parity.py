"""Per-cycle counts and the sink's row multiset of one checkout's poller.

Runs CYCLES poll cycles with a sink in the checkout CHECKOUT, on a clock
that starts at 2024-01-14 00:00 and moves STEP_MIN minutes a cycle (back
when negative, so that rows enter the batch and count as new), with
the given value format, and prints one JSON line: the names of the
checkout and scale directories, the format, each cycle's (total, new,
repeated, cancel_departure_combo), the sink's row count and a SHA-256
over the sorted per-row digests of the sink (a multiset fingerprint that
ignores file order and file names).

    python3 plans/one_write_cycle/parity.py CHECKOUT SF_DIR json|protobuf CYCLES STEP_MIN

Two checkouts agree when their lines agree in everything but the checkout.
"""

import datetime as dt
import hashlib
import json
import os
import shutil
import sys
import tempfile

checkout, sf_dir, value_format, cycles, step = sys.argv[1:6]
sys.path.insert(0, checkout)

from transitdata_omm_cancellation_source_spark.catalog import load_tables  # noqa: E402
from transitdata_omm_cancellation_source_spark.plans.cancellation import QueryParams  # noqa: E402
from transitdata_omm_cancellation_source_spark.session import get_spark  # noqa: E402
from transitdata_omm_cancellation_source_spark.streaming.poller import (  # noqa: E402
    SnapshotStore,
    run_poll_cycle,
)

spark = get_spark(app_name="parity", cpus=4)
spark.sparkContext.setLogLevel("ERROR")
load_tables(spark, sf_dir)
out = tempfile.mkdtemp(prefix="parity-")
store, sink = SnapshotStore(f"{out}/snap"), f"{out}/sink"
start, fmt = dt.datetime(2024, 1, 14), "%Y-%m-%d %H:%M:%S"
per_cycle = []
for i in range(int(cycles)):
    now = start + i * dt.timedelta(minutes=int(step))
    p = QueryParams(now=now.strftime(fmt), today=now.strftime("%Y-%m-%d"),
                    since=(now - dt.timedelta(seconds=30)).strftime(fmt), mode="NOW")
    c = run_poll_cycle(spark, store, p, sink_dir=sink, value_format=value_format)
    per_cycle.append([c["total"], c["new"], c["repeated"], c["cancel_departure_combo"]])
rows = spark.read.parquet(sink).select(
    "key", "value", "event_time_ms", "prop_dvj_id", "prop_schema").collect()
digests = sorted(hashlib.sha256(repr(tuple(r)).encode()).hexdigest() for r in rows)
print(json.dumps({
    "checkout": os.path.basename(checkout), "format": value_format,
    "sf": os.path.basename(sf_dir), "step_min": int(step),
    "cycles": per_cycle, "sink_rows": len(rows),
    "sink_multiset_sha256": hashlib.sha256("".join(digests).encode()).hexdigest(),
}))
spark.stop()
shutil.rmtree(out)
