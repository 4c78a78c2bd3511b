"""The benchmark's input tables.

``sf0.01`` and ``sf0.1`` are the repo's read-only testdata, found where
``scripts/make_scale_data.py`` reads its base (``SRC``, the sf0.1 dir).
``sf1`` is that script's 10x derivation of the same sf0.1 tables.  It is
written once per checkout into a directory named by a fingerprint of its
inputs (the script's source and the size and mtime of every base table)
and reused while they are unchanged.
"""

from __future__ import annotations

import hashlib
import pathlib
import runpy
import shutil
import subprocess
import sys
import time

SCALE_SCRIPT = pathlib.Path("scripts") / "make_scale_data.py"


def testdata_sf01(root: pathlib.Path) -> pathlib.Path:
    """The sf0.1 testdata dir, as ``scripts/make_scale_data.py`` names it."""
    return pathlib.Path(runpy.run_path(str(root / SCALE_SCRIPT))["SRC"])


def _fingerprint(script: pathlib.Path, base: pathlib.Path, tables: list[str]) -> str:
    h = hashlib.sha256(script.read_bytes())
    for t in tables:
        st = (base / f"{t}.parquet").stat()
        h.update(f"\0{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def dataset(root: pathlib.Path, data_dir: pathlib.Path, scale: str) -> tuple[str, float]:
    """Return (dataset dir, seconds spent deriving it; 0.0 when it was not).

    ``scale`` is ``sf0.01``, ``sf0.1`` or ``sf1``.  Raises
    ``FileNotFoundError`` when a testdata table is missing.
    """
    from transitdata_omm_cancellation_source_spark.catalog import TABLE_NAMES

    base = testdata_sf01(root)
    src = base if scale == "sf1" else base.parent / scale
    missing = [t for t in TABLE_NAMES if not (src / f"{t}.parquet").is_file()]
    if missing:
        raise FileNotFoundError(f"testdata {src} lacks {', '.join(missing)}")
    if scale != "sf1":
        return str(src), 0.0
    script = root / SCALE_SCRIPT
    out = data_dir / f"sf1-{_fingerprint(script, base, TABLE_NAMES)}"
    if out.is_dir():
        return str(out), 0.0
    t0 = time.perf_counter()
    # derive into a sibling temp dir, then rename it into place, so an
    # interrupted run never leaves a half-written dataset behind
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, str(script), str(tmp), "10"], check=True,
                   stdout=subprocess.DEVNULL)
    tmp.rename(out)
    return str(out), time.perf_counter() - t0
