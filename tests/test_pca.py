"""Semantic pins for the PCA operator (oracle parity is covered by
test_oracle_parity; these assert the spectral properties parity alone
can't see)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from transitdata_omm_cancellation_source_spark.operators.pca import (
    PCA_SQUARINGS,
    _X0,
)
from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def _reference(emb: np.ndarray):
    """Reimplement the operator's arithmetic (same quantization, same
    fold orders, same per-level rescale+round) in plain Python."""
    u = np.floor(emb * 1e6 + 0.5)
    n = u.shape[0]
    cov = np.round(
        (u.T @ u / n - np.outer(u.sum(0) / n, u.sum(0) / n)) / 1e12, 9
    )

    def fold_mm(a, b):
        out = np.empty((64, 64))
        for i in range(64):
            for j in range(64):
                acc = 0.0
                for k in range(64):  # the k-ordered left fold
                    acc += a[i, k] * b[k, j]
                out[i, j] = acc
        return out

    m = cov.copy()
    for _ in range(PCA_SQUARINGS):
        raw = fold_mm(m, m)
        m = np.round(raw / np.max(np.abs(raw)), 12)
    y = np.empty(64)
    for i in range(64):
        acc = 0.0
        for k in range(64):
            acc += m[i, k] * _X0
        y[i] = acc
    acc = 0.0
    for j in range(64):
        acc += y[j] * y[j]
    x = np.round(y / np.sqrt(acc), 9)
    ry = np.empty(64)
    for i in range(64):
        acc = 0.0
        for k in range(64):
            acc += cov[i, k] * x[k]
        ry[i] = acc
    acc = 0.0
    for j in range(64):
        acc += ry[j] * ry[j]
    return cov, x, float(np.sqrt(acc))


def test_pca_matches_reference_iteration_and_spectrum(spark):
    out = REGISTRY["embedding_pca_top_component"].build(spark, SF_SMOKE).collect()
    assert len(out) == 64
    x = np.array([r.component for r in sorted(out, key=lambda r: r.dim)])
    lam = out[0].eigenvalue
    assert all(abs(r.eigenvalue - lam) < 1e-12 for r in out)

    emb = np.stack(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .toPandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    cov, x_ref, lam_ref = _reference(emb)
    # the emitted iterate IS the deterministic reference computation
    # (tolerance covers numpy-vs-engine decimal rounding at near-ties)
    assert np.max(np.abs(x - x_ref)) < 1e-8, np.max(np.abs(x - x_ref))
    assert abs(lam - round(lam_ref, 6)) < 1e-6

    # spectral quality: unit norm, tight alignment with the TRUE top
    # eigenvector (effective exponent 2^PCA_SQUARINGS crushes the flat
    # eigengap), Rayleigh estimate within 0.5% of the true top
    # eigenvalue.
    w, v = np.linalg.eigh(cov)
    top = v[:, -1] * np.sign(float(v[:, -1] @ x) or 1.0)
    assert abs(float(np.linalg.norm(x)) - 1.0) < 1e-6
    assert float(x @ top) > 0.99, float(x @ top)
    assert abs(lam - w[-1]) / w[-1] < 0.005, (lam, w[-1])


def _u(x: float) -> int:
    """The kernel's quantization of one (double) coordinate, as a
    Python int: the same IEEE ``floor(x * 1e6 + 0.5)``."""
    return math.floor(x * 1_000_000 + 0.5)


def _exact_moments(vecs):
    """(C_jk for j <= k, S_j) of the quantized corpus in Python's
    arbitrary-precision integers — no doubles, no wraparound."""
    us = [[_u(x) for x in v] for v in vecs]
    dim = len(us[0])
    c = {
        (j, k): sum(row[j] * row[k] for row in us)
        for j in range(dim)
        for k in range(j, dim)
    }
    s = {j: sum(row[j] for row in us) for j in range(dim)}
    return c, s


def _kernel_moments(spark, emb):
    from transitdata_omm_cancellation_source_spark.operators import pca as _pca

    rows = _pca._moment_rows(spark, emb)
    c = {(r["j"], r["k"]): int(r["c"]) for r in rows if r["k"] >= 0}
    s = {r["j"]: int(r["c"]) for r in rows if r["k"] == -1 and r["j"] >= 0}
    n = [int(r["c"]) for r in rows if r["j"] == -1]
    assert len(rows) == len(c) + len(s) + len(n)
    assert n == [emb.count()]
    return c, s


def test_moment_rollup_exact_past_int64(spark):
    """The moment rollup stays exact where an int64 sum would silently
    wrap: micro-unit coordinates near 2e9 keep every per-row product
    below 2^63 (the kernel's int64 chunk path) but push the C_jk sums
    past 2^63 within a handful of rows.  Pins ``_moment_rows`` against
    Python's arbitrary-precision integers."""
    from transitdata_omm_cancellation_source_spark.operators.pca import DIM

    base = [
        2_000_000_000,
        -1_999_999_999,
        1_999_999_997,
        1_999_999_993,
        -1_999_999_987,
    ]
    vecs = [
        [(base[(i + j) % 5] - 7 * j) / 1e6 for j in range(DIM)]
        for i in range(5)
    ]
    exact_c, exact_s = _exact_moments(vecs)
    top = max(abs(_u(x)) for v in vecs for x in v)
    assert top * top <= 2**63 - 1, "fixture must stay on the int64 chunks"
    assert any(abs(v) > 2**63 for v in exact_c.values()), "fixture too small"
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id int, embedding array<double>"
    )
    assert _kernel_moments(spark, emb) == (exact_c, exact_s)


def _sql_moments(emb):
    """The SQL explode form of the moments, an independent reference
    for the kernel: the same float64 quantization, per-row products
    on DECIMAL(19,0) operands (exact at any BIGINT magnitude), summed
    in DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    from transitdata_omm_cancellation_source_spark.operators.pca import DIM

    last = DIM - 1
    u = emb.select(
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), x ->"
            " CAST(floor(x * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT))"
        ).alias("u")
    )
    pairs = u.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {last}), j ->"
                f" transform(sequence(j, {last}), k ->"
                " named_struct('j', j, 'k', k,"
                " 'p', CAST(element_at(u, j + 1) AS DECIMAL(19,0))"
                " * CAST(element_at(u, k + 1) AS DECIMAL(19,0))))))"
            )
        ).alias("e")
    )
    c = {
        (r["j"], r["k"]): int(r["c"])
        for r in pairs.groupBy(F.col("e.j").alias("j"), F.col("e.k").alias("k"))
        .agg(F.sum(F.col("e.p").cast("decimal(38,0)")).alias("c"))
        .collect()
    }
    s = {
        r["j"]: int(r["s"])
        for r in u.select(F.posexplode("u").alias("j", "uj"))
        .groupBy("j")
        .agg(F.sum(F.col("uj").cast("decimal(38,0)")).alias("s"))
        .collect()
    }
    return c, s


def test_moment_kernel_matches_sql_path(spark):
    """The Arrow/numpy moment kernel produces the SAME exact integer
    moments as the SQL explode form of the computation and as
    Python-int sums over the same quantization — integers, so
    equality is exact.  Coordinates are chosen so chunking engages
    (|u| <= 2e9, several int64 chunk folds per batch), signs and
    magnitudes vary, and the odd row count leaves partitions uneven."""
    import random

    from transitdata_omm_cancellation_source_spark.operators.pca import DIM

    rng = random.Random(7)
    chunked = [
        [
            float(np.float32(rng.uniform(-2000.0, 2000.0) * (1 if i % 3 else -1)))
            for _ in range(DIM)
        ]
        for i in range(257)
    ]
    top = max(abs(_u(x)) for v in chunked for x in v)
    assert 1 < (2**63 - 1) // (top * top) < 257, "chunking must engage"
    emb = spark.createDataFrame(
        list(enumerate(chunked)), "vec_id long, embedding array<float>"
    )
    got = _kernel_moments(spark, emb)
    assert len(got[0]) == DIM * (DIM + 1) // 2
    assert got == _sql_moments(emb)
    assert got == _exact_moments(chunked)


def test_max_abs_u_selects_decimal_fallback(spark):
    """Coordinates past the per-row int64 product bound (|u| ~ 4e9,
    where one product already exceeds int64) select the kernel's wide
    fallback — the exact Python-int fold that took over from the
    DECIMAL(19,0)-product path — instead of refusing or wrapping.  Its
    moments are pinned against Python's arbitrary-precision integers
    and the DECIMAL-product SQL form, and the full query completes on
    the extreme corpus with a unit-norm component."""
    from transitdata_omm_cancellation_source_spark.operators import pca as _pca
    from transitdata_omm_cancellation_source_spark.operators.pca import DIM

    nrng = np.random.default_rng(7)
    wide = [
        [float(4000 + int(nrng.integers(0, 500))) for _ in range(DIM)]
        for _ in range(5)
    ]
    top = max(abs(_u(x)) for v in wide for x in v)
    assert top * top > 2**63 - 1, "fixture must take the Python-int fold"
    exact_c, exact_s = _exact_moments(wide)
    assert all(abs(v) > 2**63 for v in exact_c.values()), "fixture too small"
    emb = spark.createDataFrame(
        list(enumerate(wide)), "vec_id int, embedding array<double>"
    )
    got = _kernel_moments(spark, emb)
    assert got == (exact_c, exact_s)
    assert got == _sql_moments(emb)

    out = _pca._pca_top_component(spark, {"embeddings": emb}).collect()
    assert len(out) == DIM
    nrm = sum(r["component"] ** 2 for r in out) ** 0.5
    assert abs(nrm - 1.0) < 1e-6


def _certified_build(spark, tmp_path, vecs):
    """Build the PCA query over ``vecs`` as the embeddings table of a
    full sf_dir under ``tmp_path`` (every other table symlinked from
    the smoke fixture: the harness registers all of them as views up
    front), assert DuckDB oracle parity and return the frame."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from transitdata_omm_cancellation_source_spark.catalog import TABLE_NAMES
    from transitdata_omm_cancellation_source_spark.testing import (
        assert_oracle_parity,
    )

    for name in TABLE_NAMES:
        if name != "embeddings":
            os.symlink(
                f"{SF_SMOKE}/{name}.parquet", tmp_path / f"{name}.parquet"
            )
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float64())),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    spec = REGISTRY["embedding_pca_top_component"]
    df = spec.build(spark, str(tmp_path))
    assert_oracle_parity(df, spec.oracle, str(tmp_path))
    return df


def test_wide_product_path_is_oracle_certifiable(spark, tmp_path):
    """A corpus whose per-row products exceed int64 (|u| past
    ~3.037e9) must be certifiable by the SAME DuckDB gate as any other:
    the engine folds such batches as exact Python ints, and the
    oracle's per-row products cast to HUGEINT, because a BIGINT product
    overflows DuckDB there and the oracle would ERROR where the engine
    succeeds."""
    rng = np.random.default_rng(11)
    vecs = [
        [float(4000 + int(rng.integers(0, 500))) for _ in range(64)]
        for _ in range(40)
    ]
    # the corpus must actually leave int64 per-row product range, or
    # the test certifies nothing
    top = max(abs(_u(x)) for v in vecs for x in v)
    assert top * top > 2**63 - 1
    out = _certified_build(spark, tmp_path, vecs).collect()
    assert len(out) == 64
    assert abs(sum(r["component"] ** 2 for r in out) ** 0.5 - 1.0) < 1e-6


_REST = [0.01 * (j + 1) for j in range(62)]


@pytest.mark.parametrize(
    "vecs",
    [
        [[0.4, 0.2, *_REST]] * 5,
        [[0.4, 0.2, *_REST]],
        [[0.5, 0.3, *_REST], [0.3, 0.5, *_REST]],
    ],
    ids=["identical", "single", "swapped-pair"],
)
def test_degenerate_corpus_matches_oracle(spark, tmp_path, vecs):
    """Identical vectors, or a single one, have an all-zero covariance,
    so the first squaring level's rescale divides by max|raw| = 0.  Two
    vectors that differ by swapping two coordinates have a covariance
    whose top component is orthogonal to x0, so the matvec is zero and
    the normalization divides by ||y|| = 0.  The oracle's division
    gives NULL in both places, and its answer is 64 rows with NULL
    component and eigenvalue; the engine must return the same instead
    of raising."""
    out = _certified_build(spark, tmp_path, vecs).collect()
    assert sorted(r["dim"] for r in out) == list(range(64))
    assert all(r["component"] is None and r["eigenvalue"] is None for r in out)


@pytest.mark.parametrize(
    "vecs",
    [
        None,
        [],
        [[0.0] * 64] * 3,
        [[0.4, 0.2, *_REST]] * 5,
        [[0.4, 0.2, *_REST]],
        [[0.5, 0.3, *_REST], [0.3, 0.5, *_REST]],
    ],
    ids=["smoke", "empty", "zeros", "identical", "single", "swapped-pair"],
)
def test_moment_row_count_is_corpus_count(spark, vecs):
    """The N the covariance divides by is the row count the moment
    kernel emits beside its sums (keyed j = k = -1), not a separate
    count job; it must equal ``count()`` of the corpus, degenerate
    ones included.  An empty corpus emits no moment rows at all."""
    from transitdata_omm_cancellation_source_spark.catalog import load_tables
    from transitdata_omm_cancellation_source_spark.operators.pca import (
        _moment_rows,
    )

    if vecs is None:
        emb = load_tables(spark, SF_SMOKE)["embeddings"]
    else:
        emb = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        )
    rows = _moment_rows(spark, emb)
    assert sum(int(r["c"]) for r in rows if r["j"] == -1) == emb.count()


def test_round_matches_spark_round(spark):
    """``_round`` is bit-identical to Spark's ``round(double, s)`` at
    every scale the driver step uses: uniform values in [-1, 1],
    magnitudes from 1e-15 to 1e3 of either sign, constructed half-way
    cases ``(n + 0.5) / 10**s``, and magnitudes from 1e3 to 1e25 (a
    covariance can reach them), past what a default 28-digit decimal
    context can hold at 12 places.  Compared as bit patterns, so a
    ``-0.0`` where Spark returns ``0.0`` fails too."""
    import struct

    import pandas as pd
    from pyspark.sql import functions as F

    from transitdata_omm_cancellation_source_spark.operators.pca import _round

    rng = np.random.default_rng(20241027)
    sign = rng.choice([-1.0, 1.0], 15_000)
    ties = [
        (n + 0.5) / 10**s
        for s in (6, 9, 12)
        for n in rng.integers(-10**6, 10**6, 5_000)
    ]
    vals = np.concatenate(
        [
            rng.uniform(-1.0, 1.0, 20_000),
            sign * 10.0 ** rng.uniform(-15.0, 3.0, 15_000),
            sign[:1_000] * 10.0 ** rng.uniform(3.0, 25.0, 1_000),
            np.array(ties),
        ]
    )
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = df.select(
        "v", *[F.round("v", s).alias(f"r{s}") for s in (6, 9, 12)]
    ).toPandas()

    def bits(x):
        return struct.pack("<d", x)

    for s in (6, 9, 12):
        bad = [
            (v, r)
            for v, r in zip(got["v"], got[f"r{s}"])
            if bits(_round(float(v), s)) != bits(float(r))
        ]
        assert not bad, (s, len(bad), bad[:5])


def test_quantize_ceiling_still_fails_loud(spark):
    """The one input-magnitude refusal: past |x·1e6| ~ 2^63 the
    micro-unit BIGINT cast itself saturates silently (ANSI off), so the
    query raises instead of computing a single wrong moment.  The
    kernel checks the float64 floor BEFORE the int64 cast (a saturated
    cast would clamp below the bound), and a NaN coordinate — which
    the int64 cast would turn into -2^63 — is refused the same way,
    even as one row among clean ones."""
    import pytest as _pytest

    from transitdata_omm_cancellation_source_spark.operators import pca as _pca

    assert _u(2.0e13) > _pca._U_QUANTIZE_BOUND
    emb = spark.createDataFrame(
        [(0, [2.0e13] * 64)], "vec_id int, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="saturate"):
        _pca._pca_top_component(spark, {"embeddings": emb})

    rows = [(i, [0.001 * (i + j) for j in range(64)]) for i in range(8)]
    rows.append((8, [float("nan")] + [0.5] * 63))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    with _pytest.raises(ValueError, match="saturate"):
        _pca._pca_top_component(spark, {"embeddings": emb})


def test_cold_build_job_count(spark, monkeypatch):
    """A build with an empty session memo runs three jobs — the moment
    aggregation with AQE's map-stage jobs.  The moment kernel counts
    the rows it reads, so there is no separate corpus count; the
    covariance round and everything after it run on the driver; and
    there is no max|u| pre-pass: the kernel guards the quantization
    itself.  (With the corpus count the same cold build ran five, with
    the covariance round as a Spark job as well six, and with the
    pre-pass too, eight.)"""
    import uuid

    from transitdata_omm_cancellation_source_spark import caching

    spec = REGISTRY["embedding_pca_top_component"]
    spec.build(spark, SF_SMOKE)  # views and the table scans registered
    monkeypatch.setattr(caching, "_MEMO", {})
    sc = spark.sparkContext
    group = f"pca-cold-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        spec.build(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


def _ordered_fold(pair_struct, init=0.0):
    """k-ordered left fold of ``struct(ord, t)`` rows — the shared
    deterministic-fold shape (collect, sort by the struct's first
    field, fold the second)."""
    from pyspark.sql import functions as F

    return F.aggregate(
        F.array_sort(F.collect_list(pair_struct)),
        F.lit(init),
        lambda a, s: a + s["t"],
    )


def test_chain_matches_ferried_form(spark):
    """The driver step (``pca_square_and_project``) must produce the
    SAME DOUBLES as the Spark per-level collect/reship ferry that
    preceded it: both run the identical ops (left-associative add
    chains, round(…/max, 12) rescale, round(…/nrm, 9) normalize,
    round(lam, 6)), so the comparison is exact ``==``, not
    approximate.  The reference below IS the retired ferry verbatim
    (posexplode + window max + ordered-fold tail), run in Spark."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from transitdata_omm_cancellation_source_spark.operators import pca as _pca

    DIM = _pca.DIM
    # deterministic symmetric fixture in the post-rescale range
    # ([-1, 1], 12 decimal places) every squaring level inhabits
    rng = random.Random(0x5EED)
    mat0 = [[0.0] * DIM for _ in range(DIM)]
    for j in range(DIM):
        for k in range(j, DIM):
            v = round(rng.uniform(-1.0, 1.0), 12)
            mat0[j][k] = v
            mat0[k][j] = v


    def ferried(mat):
        _fold_chain = "CAST(0.0 AS DOUBLE)" + "".join(
            f" + av[{i}] * bv[{i}]" for i in range(DIM)
        )
        w_all = Window.partitionBy()

        def _reshape(rows):
            grid = {(r["j"], r["k"]): r[-1] for r in rows}
            return [[grid[(j, k)] for k in range(DIM)] for j in range(DIM)]

        cov_mat = mat
        for _ in range(_pca.PCA_SQUARINGS):
            one = spark.createDataFrame([(mat,)], "mat array<array<double>>")
            d = one.select("mat", F.posexplode("mat").alias("j", "av")).select(
                "j", "av", F.posexplode("mat").alias("k", "bv")
            )
            sq = d.select("j", "k", F.expr(_fold_chain).alias("raw"))
            level = sq.select(
                "j",
                "k",
                F.round(
                    F.col("raw") / F.max(F.abs(F.col("raw"))).over(w_all), 12
                ).alias("m"),
            )
            mat = _reshape(level.collect())
        m = spark.createDataFrame(
            [(j, k, mat[j][k]) for j in range(DIM) for k in range(DIM)],
            "j int, k int, m double",
        )
        cov = spark.createDataFrame(
            [(j, k, cov_mat[j][k]) for j in range(DIM) for k in range(DIM)],
            "j int, k int, cov double",
        )
        y = m.groupBy("j").agg(
            _ordered_fold(
                F.struct(
                    F.col("k").alias("ord"),
                    (F.col("m") * F.lit(_pca._X0)).alias("t"),
                )
            ).alias("y")
        )
        nrm = y.agg(
            F.sqrt(
                _ordered_fold(
                    F.struct(
                        F.col("j").alias("ord"),
                        (F.col("y") * F.col("y")).alias("t"),
                    )
                )
            ).alias("nrm")
        )
        xf = (
            y.crossJoin(F.broadcast(nrm))
            .select("j", F.round(F.col("y") / F.col("nrm"), 9).alias("x"))
            .collect()
        )
        x_rows = sorted((r.j, r.x) for r in xf)
        x_df = spark.createDataFrame(x_rows, "k int, xv double")
        ray = (
            cov.join(F.broadcast(x_df), "k")
            .groupBy("j")
            .agg(
                _ordered_fold(
                    F.struct(
                        F.col("k").alias("ord"),
                        (F.col("cov") * F.col("xv")).alias("t"),
                    )
                ).alias("ry")
            )
        )
        lam_val = ray.agg(
            F.sqrt(
                _ordered_fold(
                    F.struct(
                        F.col("j").alias("ord"),
                        (F.col("ry") * F.col("ry")).alias("t"),
                    )
                )
            ).alias("lam")
        ).collect()[0][0]
        return x_rows, round(lam_val, 6)

    ref_x, ref_lam = ferried(mat0)
    got = _pca.pca_square_and_project(spark, mat0).collect()
    got_x = sorted((r.dim, r.component) for r in got)
    assert got_x == ref_x  # exact doubles, no tolerance
    assert {r.eigenvalue for r in got} == {ref_lam}
