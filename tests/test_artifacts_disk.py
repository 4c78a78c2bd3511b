"""Disk-persisted trained artifacts (artifacts.load_or_train).

The r11 verdict's production gap: the IVF quantizer and PQ codebook
were session-memory-only and retrained per session (the 17.7x
knn_pq_refine decade row was one session's training bill).  These
tests pin the r12 disk layer's contract:

- a MISS trains, writes under the artifact root, and serves the rows;
- a HIT serves bit-identical rows WITHOUT the trainer running — proved
  both in-session (trainer monkeypatched to raise) and from a genuinely
  COLD SparkSession (separate JVM, different application id), which
  also proves the disk key is session-independent;
- rewriting the source parquet changes the key (no stale artifact);
- the key covers every ``.py`` file of the package, so an edit at any
  call depth below a trainer is a miss;
- a source without input files trains in session and publishes
  nothing.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from transitdata_omm_cancellation_source_spark import artifacts, caching
from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.operators import pq
from transitdata_omm_cancellation_source_spark.operators import similarity as sim

from conftest import SF_SMOKE


def _quantizer_rows(spark, t):
    return [
        (r["c_key"], list(r["cv"]), r["cn2"])
        for r in sim.ivf_quantizer(spark, t).collect()
    ]


def _codebook_rows(spark, t):
    return [
        (r["sub"], r["code"], list(r["c"]))
        for r in pq._shared_codebook(spark, pq._vectors(t)).collect()
    ]


@pytest.fixture()
def artifact_dir(spark, tmp_path, monkeypatch):
    spark.conf.set(artifacts.ARTIFACT_DIR_CONF, str(tmp_path))
    monkeypatch.setattr(caching, "_MEMO", {})
    yield tmp_path
    spark.conf.unset(artifacts.ARTIFACT_DIR_CONF)


def _forbid_training(monkeypatch):
    # the seam between the hit/miss decision and the build work: a
    # hit must never reach it.
    def boom(train):
        raise AssertionError("artifact hit must not retrain")

    monkeypatch.setattr(artifacts, "_invoke_build", boom)


def test_load_without_train_bit_identity_in_session(
    spark, artifact_dir, monkeypatch
):
    t = load_tables(spark, SF_SMOKE)
    cv1, cb1 = _quantizer_rows(spark, t), _codebook_rows(spark, t)
    # artifacts landed on disk, atomically published
    names = {p.name for p in artifact_dir.iterdir()}
    assert names == {"ivf_quantizer", "pq_codebook"}
    for name in names:
        (digest_dir,) = (artifact_dir / name).iterdir()
        assert (digest_dir / "_SUCCESS").is_file()

    # second "session": session memo cleared, trainers forbidden
    monkeypatch.setattr(caching, "_MEMO", {})
    _forbid_training(monkeypatch)
    assert _quantizer_rows(spark, t) == cv1
    assert _codebook_rows(spark, t) == cb1


_COLD_SCRIPT = """
import json, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.graft.artifacts.dir", sys.argv[1]).getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import transitdata_omm_cancellation_source_spark.operators.similarity as sim
import transitdata_omm_cancellation_source_spark.operators.pq as pq
import transitdata_omm_cancellation_source_spark.artifacts as artifacts
def boom(train):
    raise AssertionError("cold session must not retrain")
artifacts._invoke_build = boom
from transitdata_omm_cancellation_source_spark.catalog import load_tables
t = load_tables(spark, sys.argv[2])
cv = [[r["c_key"], list(r["cv"]), r["cn2"]]
      for r in sim.ivf_quantizer(spark, t).collect()]
cb = [[r["sub"], r["code"], list(r["c"])]
      for r in pq._shared_codebook(spark, pq._vectors(t)).collect()]
print("COLD_RESULT " + json.dumps({"cv": cv, "cb": cb}))
"""


def test_cold_session_loads_bit_identical(spark, artifact_dir):
    """A separate JVM (fresh application id) must LOAD both artifacts
    without training — proving the disk key carries no session state
    and the parquet round-trip is exact (json float repr is
    shortest-roundtrip, so string equality == bit equality)."""
    t = load_tables(spark, SF_SMOKE)
    warm = {
        "cv": [list(r) for r in _quantizer_rows(spark, t)],
        "cb": [list(r) for r in _codebook_rows(spark, t)],
    }
    proc = subprocess.run(
        [sys.executable, "-c", _COLD_SCRIPT, str(artifact_dir), SF_SMOKE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("COLD_RESULT ")]
    assert line, proc.stdout[-2000:]
    cold = json.loads(line[-1][len("COLD_RESULT "):])
    assert json.dumps(cold, sort_keys=True) == json.dumps(warm, sort_keys=True)


def test_rewritten_source_is_a_key_miss(spark, artifact_dir, tmp_path):
    """Rewriting the parquet bytes behind the same logical table must
    change the disk key — a stale trained artifact can never serve a
    regenerated corpus."""
    t = load_tables(spark, SF_SMOKE)
    k1 = artifacts.artifact_disk_key("ivf_quantizer", t["embeddings"])
    alt = tmp_path / "alt"
    alt.mkdir()
    shutil.copy(f"{SF_SMOKE}/embeddings.parquet", alt / "embeddings.parquet")
    os.utime(alt / "embeddings.parquet", (1, 1))
    emb2 = spark.read.parquet(str(alt / "embeddings.parquet"))
    k2 = artifacts.artifact_disk_key("ivf_quantizer", emb2)
    assert k1 != k2
    # and the name participates too: two artifacts from one source
    # cannot collide
    assert artifacts.artifact_disk_key("pq_codebook", t["embeddings"]) != k1


def test_trainer_body_edit_is_a_key_miss(spark):
    """Editing a trainer's BODY must change the disk key, while the
    same function fingerprinted twice keys identically."""
    t = load_tables(spark, SF_SMOKE)

    def train_a():
        return 1  # recipe v1

    def train_b():
        return 2  # recipe v2

    def train_a2():
        return 1  # recipe v1

    src = t["embeddings"]
    ka = artifacts.artifact_disk_key("dummy", src, train_a)
    kb = artifacts.artifact_disk_key("dummy", src, train_b)
    ka2 = artifacts.artifact_disk_key("dummy", src, train_a2)
    assert ka != kb
    # same-body-different-name trainers differ only through the source
    # text (which includes the def line) — the fingerprint is source-
    # grain, so these differ too; what must HOLD equal is the same
    # function fingerprinted twice (cross-session stability).
    assert ka == artifacts.artifact_disk_key("dummy", src, train_a)
    assert ka != ka2  # def line differs; conservative misses are fine
    # trainer-less keys (legacy callers) still work and differ from
    # trainer-keyed ones
    k0 = artifacts.artifact_disk_key("dummy", src)
    assert k0 not in (ka, kb)


def _codebook_key(spark, package: str) -> str:
    """The ``pq_codebook`` disk key as ``package`` computes it, for the
    trainer ``pq._shared_codebook`` passes."""
    arts = importlib.import_module(f"{package}.artifacts")
    pq_mod = importlib.import_module(f"{package}.operators.pq")
    train_codebook = pq_mod._train_codebook
    vecs = pq_mod._vectors(load_tables(spark, SF_SMOKE))
    return arts.artifact_disk_key(
        "pq_codebook", vecs, lambda: train_codebook(vecs)
    )


def test_deep_package_edit_is_a_key_miss(spark, tmp_path, monkeypatch):
    """The key covers the whole package: an edit to ``pq._centroids``,
    two calls below the codebook trainer and invisible in the
    trainer's own source, changes it, and an unedited copy of the
    package keys the same as the package itself."""
    pkg = os.path.dirname(os.path.abspath(artifacts.__file__))
    for copy in ("graft_same", "graft_edited"):
        shutil.copytree(
            pkg, tmp_path / copy, ignore=shutil.ignore_patterns("__pycache__")
        )
    pq_py = tmp_path / "graft_edited" / "operators" / "pq.py"
    old = 'seeds = vecs.orderBy("vec_id").limit(K_CODES)'
    text = pq_py.read_text()
    assert text.count(old) == 1
    pq_py.write_text(
        text.replace(old, 'seeds = vecs.orderBy(F.desc("vec_id")).limit(K_CODES)')
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    try:
        base = _codebook_key(spark, artifacts.__name__.rsplit(".", 1)[0])
        assert _codebook_key(spark, "graft_same") == base
        assert _codebook_key(spark, "graft_edited") != base
    finally:
        for mod in [m for m in sys.modules if m.split(".")[0].startswith("graft_")]:
            del sys.modules[mod]


def test_fileless_sources_train_in_session_and_publish_nothing(
    spark, artifact_dir
):
    """Two local relations with one schema have no input files, so the
    disk key cannot tell them apart: each must be served its own rows,
    and nothing may be published."""
    schema = "k int, v string"

    def serve(src):
        rows = artifacts.load_or_train(
            spark, "fileless", src, schema, lambda: src, ["k"]
        ).collect()
        return [tuple(r) for r in rows]

    a = spark.createDataFrame([(1, "a")], schema)
    b = spark.createDataFrame([(2, "b"), (1, "c")], schema)
    assert serve(a) == [(1, "a")]
    assert serve(b) == [(1, "c"), (2, "b")]
    assert list(artifact_dir.iterdir()) == []


def test_closure_cell_edits_are_key_misses(spark):
    """Closed-over scalars participate in the key: the same lambda text
    built over two different thresholds keys differently.  A DataFrame
    cell is left out; its data is covered by the source fingerprints."""
    t = load_tables(spark, SF_SMOKE)
    src = t["embeddings"]

    def make(tau):
        return lambda: tau

    ka = artifacts.artifact_disk_key("dummy", src, make(0.5))
    kb = artifacts.artifact_disk_key("dummy", src, make(0.9))
    assert ka != kb
    assert artifacts.artifact_disk_key("dummy", src, make(0.5)) == ka
