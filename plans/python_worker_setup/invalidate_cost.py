"""Time ``importlib.invalidate_caches()`` in an interpreter laid out like
a Spark Python worker, without and then with the ``pyworker`` guard.

Puts ``$SPARK_HOME``'s pyspark.zip, py4j zip and spark-core jar on
``sys.path`` ahead of site-packages, as Spark's worker factory does,
imports ``pyspark.worker`` and the Arrow serializers from the zip, and
prints the zipimporter count and the wall of 10 invalidations per arm.
Run it from the root of a checkout:

    python3 plans/python_worker_setup/invalidate_cost.py
"""

import glob
import importlib
import os
import sys
import time
import zipimport

home = os.environ["SPARK_HOME"]
sys.path[1:1] = (glob.glob(f"{home}/python/lib/py*.zip")
                 + glob.glob(f"{home}/jars/spark-core_*.jar"))
import pyspark.worker  # noqa: E402,F401
import pyspark.sql.pandas.serializers  # noqa: E402,F401

sys.path.insert(0, os.getcwd())
from transitdata_omm_cancellation_source_spark import pyworker  # noqa: E402

print(f"python {sys.version.split()[0]}, pyspark from {pyspark.__file__}, "
      f"{sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())} zipimporters")
for arm in ("stock", "guarded"):
    if arm == "guarded":
        zipimport.zipimporter.invalidate_caches = pyworker.invalidate_caches
        importlib.invalidate_caches()  # stamps each archive, as the daemon does
    ms = []
    for _ in range(10):
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms.append(1000 * (time.perf_counter() - t))
    print(f"{arm}: ms per invalidation", [round(m, 1) for m in ms])
