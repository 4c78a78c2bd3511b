"""Every operator module must be importable as a process's FIRST import.

Operator modules register into ``plans/registry.py``, which imports no
operator module, and ``plans/queries.py`` imports all of them.  An
operator module that imported ``plans/queries.py`` would close an import
cycle, and importing it first in a fresh process would raise ImportError
from a partially-initialized sibling.  These tests pin the property
with real fresh interpreters, for the two modules at the extremes of the
dependency order (the hub everyone imports from, and the leaf that
imports from the most siblings).
"""

import subprocess
import sys

import pytest

_SNIPPET = (
    "import transitdata_omm_cancellation_source_spark.operators.{mod}; "
    "from transitdata_omm_cancellation_source_spark.plans.queries import "
    "REGISTRY; assert len(REGISTRY) == 110, len(REGISTRY)"
)


@pytest.mark.parametrize("mod", ["similarity", "semdedup"])
def test_operator_module_is_root_importable(mod):
    proc = subprocess.run(
        [sys.executable, "-c", _SNIPPET.format(mod=mod)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
