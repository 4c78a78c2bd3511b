"""The engine reads one Spark conf of its own, the artifact directory.

Every tuning value (pass budgets, broadcast limits) is a module
constant, so the conf surface is a deployment path and nothing else.
This test pins that set: a new ``spark.graft.*`` conf has to be added
here on purpose.
"""

import re
from pathlib import Path

import transitdata_omm_cancellation_source_spark as pkg


def test_package_reads_only_the_artifact_dir_conf():
    found = set()
    for path in Path(pkg.__file__).parent.rglob("*.py"):
        found |= set(re.findall(r"spark\.graft\.[A-Za-z.]+", path.read_text()))
    assert found == {"spark.graft.artifacts.dir"}
