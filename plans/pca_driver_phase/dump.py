"""Print the rows of ``embedding_pca_top_component`` as exact doubles.

For each sf directory given, one JSON line: the directory's name, the
build's wall time and its 64 ``[dim, component, eigenvalue]`` rows with
each double written by ``float.hex`` (``null`` for NULL).  Two
checkouts agree bit for bit when their lines' ``rows`` are equal.
Run it from the root of the checkout whose engine it should load:

    python3 plans/pca_driver_phase/dump.py /path/to/sf0.001 /path/to/sf0.01
"""

import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())

from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY  # noqa: E402
from transitdata_omm_cancellation_source_spark.session import get_spark  # noqa: E402


def _hex(v):
    return None if v is None else float(v).hex()


spark = get_spark(app_name="pca-dump", cpus=4)
spark.sparkContext.setLogLevel("ERROR")
spec = REGISTRY["embedding_pca_top_component"]
for sf in sys.argv[1:]:
    t0 = time.perf_counter()
    rows = spec.build(spark, sf).collect()
    wall = time.perf_counter() - t0
    print(json.dumps({
        "sf": os.path.basename(sf.rstrip("/")),
        "build_s": round(wall, 3),
        "rows": sorted([r["dim"], _hex(r["component"]), _hex(r["eigenvalue"])] for r in rows),
    }), flush=True)
spark.stop()
