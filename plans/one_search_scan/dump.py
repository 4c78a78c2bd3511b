"""Fingerprint the rows, jobs and plan shape of the searches this change touches.

For each sf directory and query name, one JSON line: the sha256 of the
sorted collected rows with every double written by ``float.hex``
(``None`` for NULL), the row count, the Spark jobs the build and collect
ran (one job group each, in a fresh session, queries in the order
given), and how often each of a few operators appears in the executed
plan.  Two checkouts agree bit for bit when their lines' ``sha256`` are
equal.  Run it from the root of the checkout whose engine it should load:

    python3 plans/one_search_scan/dump.py /path/to/sf0.001 /path/to/sf0.01
"""

import hashlib
import json
import os
import sys
import uuid

sys.path.insert(0, os.getcwd())

from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY  # noqa: E402
from transitdata_omm_cancellation_source_spark.session import get_spark  # noqa: E402

NAMES = [
    "knn_lsh_hyperplane",
    "knn_lsh_multiprobe",
    "knn_ivf_kmeans",
    "knn_pq_adc",
    "knn_pq_refine",
    "knn_ivfpq_adc",
    "knn_int8_cosine",
    "embedding_pca_top_component",
]
OPS = ["FlatMapCoGroupsInPandas", "MapInPandas", "Window", "Exchange", "Join"]


def _cell(v):
    return v.hex() if isinstance(v, float) else v


spark = get_spark(app_name="search-dump", cpus=4)
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext
for sf in sys.argv[1:]:
    for name in NAMES:
        group = f"dump-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        df = REGISTRY[name].build(spark, sf)
        rows = sorted(tuple(_cell(v) for v in r) for r in df.collect())
        sc.setLocalProperty("spark.jobGroup.id", None)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(json.dumps({
            "sf": os.path.basename(sf.rstrip("/")),
            "query": name,
            "rows": len(rows),
            "sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "plan_ops": {op: plan.count(op) for op in OPS},
        }), flush=True)
spark.stop()
