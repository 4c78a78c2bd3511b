"""Jobs and row fingerprint of ``corpus_semdedup`` in a fresh session.

Builds and collects ``corpus_semdedup``, then ``dedup_embedding_cosine``,
in one new session on 4 cores, counting each one's Spark jobs with
``tests/conftest.py:jobs_run_by``, and prints one JSON line per query:
the sf, the query, the jobs, the row count and the sha256 of the sorted
rows.  The disk artifact tier is the session's default (under the
working directory's ``spark-warehouse``), so the first run in a checkout
builds it and later runs load it.  Run it from the root of the checkout
whose engine it should load:

    python3 plans/python_worker_setup/semdedup_jobs.py /path/to/sf0.01
"""

import hashlib
import json
import os
import sys

sys.path.insert(0, os.getcwd())

from tests.conftest import jobs_run_by  # noqa: E402
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY  # noqa: E402
from transitdata_omm_cancellation_source_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="semdedup-jobs", cpus=4)
spark.sparkContext.setLogLevel("ERROR")
sf = sys.argv[1]
for name in ["corpus_semdedup", "dedup_embedding_cosine"]:
    out = []
    jobs = jobs_run_by(spark, lambda: out.extend(REGISTRY[name].build(spark, sf).collect()))
    rows = sorted(tuple(v.hex() if isinstance(v, float) else v for v in r) for r in out)
    print(json.dumps({
        "sf": os.path.basename(sf.rstrip("/")),
        "query": name,
        "jobs": jobs,
        "rows": len(rows),
        "sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
    }), flush=True)
spark.stop()
