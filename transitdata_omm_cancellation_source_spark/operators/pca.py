"""PCA for the embedding corpus: exact one-pass moments + fixed
power-iteration rounds.

``embedding_pca_top_component``: the corpus' top principal component
— the spectral artifact a training-data pipeline uses for whitening,
dimension reduction and drift monitoring.  Two phases, each with the
repo's determinism discipline:

1. MOMENTS (distributed, one pass): every coordinate is quantized
   ONCE to micro-units (``floor(x * 1e6 + 0.5)`` as BIGINT — the
   ``pq.py`` pattern), and one Arrow-batched numpy kernel
   (``_moment_rows``) folds each task's exact integer sums N,
   S_j = Σu_j and C_jk = Σu_j·u_k (upper triangle, j ≤ k) before one
   DECIMAL(38,0) sum across tasks.  Integer sums are associative
   ⇒ partitioning- and merge-order-independent; the covariance
   cov_jk = (C/N - (S_j/N)(S_k/N)) / 1e12 is then ONE fixed IEEE
   expression over identical integers, quantized ``round(.., 9)``
   before anything downstream reads it.  HEADROOM: the kernel is exact
   for every quantizable coordinate — int64 Gram chunks sized so they
   cannot wrap, or exact Python ints once a single product u_j·u_k
   would exceed int64 — and refuses only a coordinate whose micro-unit
   value is non-finite or past the BIGINT cast's own saturation (see
   ``_U_QUANTIZE_BOUND``).  The moment SUMS roll up in DECIMAL(38,0)
   on the Spark side and in DuckDB's native HUGEINT on the oracle
   side, so the arithmetic is exact to ~1e38 — no corpus-size
   ceiling.  Cross-engine parity of the one final integer→DOUBLE cast
   is exact (both single-rounded) for |C| < 2^64 ≈ 1.8e19, i.e. to
   ~18M unit-norm vectors at test scales; past that the EXACT integer
   moments still agree and any residual divergence is ≤1 ulp in
   DuckDB's hugeint→double cast (a test-oracle artifact, not an
   engine error).
2. POWER ITERATION VIA REPEATED SQUARING (bounded, on the 64×64
   matrix): instead of r matvec rounds, square the matrix
   PCA_SQUARINGS times — M_{l+1} = round(M_l·M_l / s_l, 12) with
   s_l = max|entry| as the per-level rescale (a deterministic,
   order-independent max; without it entries underflow as
   λ^(2^l)) — then apply ONE matvec to x0 = 1/8 per dimension
   (exactly representable) and normalize:
   x = round(y/||y||, 9).  That is power iteration with effective
   exponent 2^PCA_SQUARINGS at log cost — the per-step fixed overhead
   of engine-side artifact math is the bottleneck here, not
   arithmetic, and 6 squaring steps beat 48 matvec rounds (measured
   25 s -> ~10 s wall, with a HIGHER effective exponent).  Each level
   runs SHUFFLE-FREE as a crossJoin of two 64-row local relations
   (row-arrays × column-arrays) whose per-pair aggregate(zip_with)
   is the same k-ascending left fold; the driver only reshapes the
   ferried, already-rounded doubles between levels (no float
   arithmetic), cutting both the self-join's doubling logical
   lineage and the per-level exchange overhead (~11 s -> ~4 s at
   sf0.1, identical output hashes).
   Every product/norm is a k-ORDERED left fold (the
   ``_fold_centroids`` phase-2 pattern — collect_list + array_sort +
   aggregate, bit-identical to the oracle's ``list(.. ORDER BY k)``
   fold); sqrt is IEEE exactly-rounded; every level is quantized
   (round 12) before the next reads it, so both engines walk
   identical doubles.  The reported eigenvalue is the Rayleigh value
   ``||cov·x||`` of the final iterate against the ORIGINAL
   covariance.


The reference (a cancellation ETL) has no embedding surface; this is
north-star scope per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hyperplane import DIM
from ..plans.registry import registered_query as _q

#: fixed squaring levels (unrollable in SQL, the LLOYD_ROUNDS
#: discipline).  Effective power-iteration exponent is 2^PCA_SQUARINGS
#: = 64; convergence is rate (λ2/λ1)^64 — the synthetic corpus'
#: spectrum is flat (λ2/λ1 ≈ 0.93) and 64 effective rounds give
#: 0.999+ alignment with the true component (pinned against numpy's
#: eigh in tests/test_pca.py); levels are the accuracy knob and each
#: level costs one bounded fold over the FIXED 64×64 matrix
#: (corpus-size-independent).
PCA_SQUARINGS = 6

_SCALE = 1_000_000

#: x0 = 1/sqrt(DIM) = 0.125 — EXACTLY representable in binary, so both
#: engines start from literally identical doubles.
_X0 = 0.125

#: fixed IEEE covariance expression over the exact integer moments —
#: identical text (modulo dialect casts) on both engines.
_COV = (
    "round((CAST({c} AS DOUBLE) / {n} - (CAST({sj} AS DOUBLE) / {n})"
    " * (CAST({sk} AS DOUBLE) / {n})) / 1e12, 9)"
)


def _pca_oracle() -> str:
    # AS MATERIALIZED throughout: DuckDB inlines plain CTEs, and each
    # squaring SELF-JOINS its level (two references), so inlining
    # doubles the expansion per level — exponentially many scans of
    # the base table (observed as an fd exhaustion).  Materialization
    # evaluates each level once; results are identical.  The SQL
    # comment on ``pairs`` names the engine's retired wide-product
    # path; it stays verbatim so the oracle text is unchanged, and its
    # HUGEINT cast is still what certifies corpora past |u| ~ 3.037e9.
    parts = [f"""
    u AS MATERIALIZED (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {_SCALE}.0 + 0.5) AS BIGINT)) AS u
        FROM embeddings
    ),
    n AS MATERIALIZED (SELECT count(*) AS n FROM u),
    comp AS MATERIALIZED (
        SELECT vec_id, CAST(j AS INTEGER) AS j, u[j + 1] AS uj
        FROM u, (SELECT unnest(range(0, {DIM})) AS j)
    ),
    s AS MATERIALIZED (SELECT j, CAST(sum(uj) AS HUGEINT) AS s FROM comp GROUP BY j),
    pairs AS MATERIALIZED (
        -- per-row product operands cast to HUGEINT: a BIGINT*BIGINT
        -- product overflows DuckDB past |u| ~ 3.037e9 — exactly the
        -- corpora the engine's wide DECIMAL(19,0) path exists for —
        -- so without the cast the oracle errors where the engine
        -- succeeds and the wide path is uncertifiable (r11 ADVICE).
        -- HUGEINT covers the full BIGINT-representable range exactly.
        SELECT a.j AS j, b.j AS k,
               CAST(sum(CAST(a.uj AS HUGEINT) * b.uj) AS HUGEINT) AS c
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.j <= b.j
        GROUP BY a.j, b.j
    ),
    cov_ut AS MATERIALIZED (
        SELECT p.j, p.k,
               {_COV.format(c="p.c", n="n.n", sj="sj.s", sk="sk.s")} AS cov
        FROM pairs p
        JOIN s sj ON sj.j = p.j
        JOIN s sk ON sk.j = p.k, n
    ),
    cov AS MATERIALIZED (
        SELECT j, k, cov FROM cov_ut
        UNION ALL
        SELECT k AS j, j AS k, cov FROM cov_ut WHERE j <> k
    ),
    m0 AS MATERIALIZED (SELECT j, k, cov AS m FROM cov)"""]
    for lv in range(PCA_SQUARINGS):
        parts.append(f"""
    sq{lv} AS MATERIALIZED (
        SELECT a.j, b.k,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(a.m * b.m ORDER BY a.k)),
                   (acc, t) -> acc + t) AS raw
        FROM m{lv} a JOIN m{lv} b ON a.k = b.j
        GROUP BY a.j, b.k
    ),
    sc{lv} AS MATERIALIZED (SELECT max(abs(raw)) AS s FROM sq{lv}),
    m{lv + 1} AS MATERIALIZED (
        SELECT j, k, round(raw / s, 12) AS m FROM sq{lv}, sc{lv}
    )""")
    parts.append(f"""
    y AS MATERIALIZED (
        SELECT m.j,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(m.m * {_X0} ORDER BY m.k)),
                   (acc, t) -> acc + t) AS y
        FROM m{PCA_SQUARINGS} m GROUP BY m.j
    ),
    nrm AS MATERIALIZED (
        SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(y * y ORDER BY j)), (acc, t) -> acc + t)) AS nrm
        FROM y
    ),
    xf AS MATERIALIZED (
        SELECT j, round(y / nrm, 9) AS x FROM y, nrm
    ),
    ray AS MATERIALIZED (
        SELECT cov.j,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(cov.cov * x.x ORDER BY cov.k)),
                   (acc, t) -> acc + t) AS ry
        FROM cov JOIN xf x ON x.j = cov.k
        GROUP BY cov.j
    ),
    lam AS MATERIALIZED (
        SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(ry * ry ORDER BY j)), (acc, t) -> acc + t)) AS lam
        FROM ray
    )""")
    return f"""
    WITH {",".join(parts)}
    SELECT x.j AS dim, x.x AS component,
           round(lam.lam, 6) AS eigenvalue
    FROM xf x, lam
    """


#: ceiling of the quantization itself: past |x·1e6| ~ 2^63 the
#: ``CAST(double AS BIGINT)`` SATURATES silently with ANSI off where
#: DuckDB errors, i.e. the quantized coordinate itself is already
#: wrong before any moment math.  That is the engine's only
#: input-magnitude refusal (raw coordinate ~9e12), checked by the
#: moment kernel on the float64 ``floor`` (pre-cast, monotone past
#: 2^53) below the true edge with a 2^12 double-ULP margin.
_U_QUANTIZE_BOUND = 2**63 - 2**12

#: moment-sum magnitude past which the exact-arithmetic contract is
#: broken (DECIMAL(38,0) capacity).
_MOMENT_CONTRACT_BOUND = 10**38

_OVERFLOW = (
    "embedding_pca_top_component: a moment sum overflowed DECIMAL(38,0) "
    "— corpus mass exceeds the exact-arithmetic contract; rescale the "
    "corpus or lower the micro-unit scale"
)


def _moment_rows(spark, emb):
    """Collected exact integer moment rows (j, k, c) of the corpus:
    C_jk for j ≤ k, and the coordinate sums S_j keyed k = -1.

    An Arrow-batched numpy kernel: whole batches go to vectorized
    native code.  Each task quantizes its batch once
    (``floor(x·1e6 + 0.5)`` on float64 — the identical IEEE ops the
    oracle's expression runs, so the same int64 u values), computes
    the Gram matrix Uᵀ·U and column sums, and folds them into
    arbitrary-precision Python ints, emitting ONE set of 2144 partial
    rows per task; the final DECIMAL(38,0) sum over the ≤``par``
    partials is the exact integer total.  Exactness at every
    coordinate magnitude:

    - max|u|² ≤ 2⁶³-1: int64 matmuls over chunks sized so
      rows·max|u|² ≤ 2⁶³-1 (the matmul's accumulation IS the chunk
      sum, so it cannot wrap);
    - max|u|² > 2⁶³-1 (|u| past ~3.037e9, where one product already
      exceeds int64): the batch folds as Python ints (object dtype) —
      slower, exact at any magnitude.

    The quantization guard rides in the same kernel: a batch holding a
    non-finite value or a micro-unit magnitude past
    ``_U_QUANTIZE_BOUND`` (checked on the float64 floor, before the
    int64 cast could saturate) emits one sentinel row (j = k = -2)
    instead of moments, and this helper raises after the collect.
    Only violating batches emit sentinels, so a clean corpus can never
    trip it.  Only the raw float arrays cross the Python boundary
    (shuffled as 4-byte floats, cast to double after the exchange), so
    the shuffle into the final aggregation is ~par·2144 slim rows.
    """
    dim = DIM
    par = spark.sparkContext.defaultParallelism
    src = (
        emb.select("vec_id", "embedding")
        # scan-partition-starvation remedy (see assign_to_centroids):
        # at low decades the corpus is a handful of scan splits.
        .repartition(par, "vec_id")
        .select(F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("x"))
    )

    def kernel(it):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        C = np.zeros((dim, dim), dtype=object)
        S = np.zeros(dim, dtype=object)
        seen = False
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["x"].to_numpy())
            Fq = np.floor(X * float(_SCALE) + 0.5)
            if not np.isfinite(Fq).all() or np.abs(Fq).max() > _U_QUANTIZE_BOUND:
                yield pd.DataFrame({"j": [-2], "k": [-2], "p": [Decimal(1)]})
                return
            U = Fq.astype(np.int64)
            seen = True
            mu = int(np.abs(U).max())
            if mu == 0:
                continue
            if mu * mu > 2**63 - 1:
                W = U.astype(object)
                C += W.T @ W
                S += W.sum(axis=0)
                continue
            step = (2**63 - 1) // (mu * mu)
            for lo in range(0, U.shape[0], step):
                chunk = U[lo : lo + step]
                C += (chunk.T @ chunk).astype(object)
                S += chunk.sum(axis=0, dtype=np.int64).astype(object)
        if not seen:
            return
        js, ks, ps = [], [], []
        for j in range(dim):
            for k in [*range(j, dim), -1]:
                v = int(C[j, k] if k >= 0 else S[j])
                if abs(v) >= _MOMENT_CONTRACT_BOUND:
                    raise ValueError(_OVERFLOW)
                js.append(j)
                ks.append(k)
                ps.append(Decimal(v))
        yield pd.DataFrame({"j": js, "k": ks, "p": ps})

    rows = (
        src.mapInPandas(kernel, "j int, k int, p decimal(38,0)")
        .groupBy("j", "k")
        .agg(F.sum("p").alias("c"))
        .collect()
    )
    if any(r["j"] == -2 for r in rows):
        raise ValueError(
            "embedding_pca_top_component: a coordinate's micro-unit value "
            f"is non-finite or exceeds {_U_QUANTIZE_BOUND} — the "
            "micro-unit BIGINT cast itself would saturate; rescale the "
            "corpus or lower the micro-unit scale"
        )
    if any(r["c"] is None for r in rows):
        raise ValueError(_OVERFLOW)
    return rows


def _ordered_fold(pair_struct, init=0.0):
    """k-ordered left fold of ``struct(ord, t)`` rows — the shared
    deterministic-fold shape (collect, sort by the struct's first
    field, fold the second)."""
    return F.aggregate(
        F.array_sort(F.collect_list(pair_struct)),
        F.lit(init),
        lambda a, s: a + s["t"],
    )


@_q(
    "embedding_pca_top_component",
    "north-star: corpus PCA top principal component — exact one-pass "
    "integer moments, fixed power-iteration rounds on the bounded "
    "covariance artifact (unrolled-CTE oracle)",
    _pca_oracle(),
)
def _pca_top_component(spark, t):
    from .similarity import corpus_count

    n_corpus = corpus_count(spark, t["embeddings"])
    mom_rows = _moment_rows(spark, t["embeddings"])
    s_vals = {r["j"]: r["c"] for r in mom_rows if r["k"] == -1}
    c_ut = {(r["j"], r["k"]): r["c"] for r in mom_rows if r["k"] >= 0}
    if not c_ut:  # empty corpus: no moments, no component
        return spark.createDataFrame(
            [], "dim int, component double, eigenvalue double"
        )
    # Covariance cells: the PRE-round arithmetic of ``_COV`` —
    # round((C/n - (Sj/n)·(Sk/n)) / 1e12, 9) — is four IEEE double ops
    # over correctly-rounded conversions, so the driver computes the
    # pre-round doubles bit-exactly in Python (float(int)/float(Decimal)
    # and Spark's Decimal→double cast are both round-to-nearest;
    # /, *, - are IEEE-identical) and ships them as ONE compact
    # array<double> literal (repr(float) round-trips exactly through
    # CAST(.. AS DOUBLE), see ``_sql_matrix_literal``); ONLY the final
    # ``round(x, 9)`` stays engine-side, because Spark's HALF_UP
    # decimal-string round is the one op with no bit-pinned Python
    # equivalent.  This replaced the 2080-cell no-FROM SELECT over
    # DECIMAL(38,0) literals whose ~0.5 MB parse + constant-fold cost
    # 1.5-1.7 s of driver time per build (r15; measured bit-identical
    # on all 2080 cells at sf0.1, 1.5-1.7 → 0.15-0.27 s).  The r14
    # history: before the literal SELECT this was a createDataFrame of
    # 4096 decimal rows + a job + a 4096-row collect.  The mirror to
    # the full matrix stays driver-side pure copying (C_kj = C_jk by
    # definition), so exact symmetry holds by construction; every
    # squaring level preserves it (raw[j][k] and raw[k][j] swap only
    # product operands, a·b ≡ b·a in IEEE).
    nf = float(n_corpus)
    pre = [
        (
            float(c_ut[(j, k)]) / nf
            - (float(s_vals[j]) / nf) * (float(s_vals[k]) / nf)
        )
        / 1e12
        for j in range(DIM)
        for k in range(j, DIM)
    ]
    arr = "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in pre) + ")"
    ut = list(
        spark.sql(f"SELECT transform({arr}, x -> round(x, 9)) AS r").first()["r"]
    )
    idx = {}
    pos = 0
    for j in range(DIM):
        for k in range(j, DIM):
            idx[(j, k)] = pos
            pos += 1
    mat = [
        [ut[idx[(min(j, k), max(j, k))]] for k in range(DIM)]
        for j in range(DIM)
    ]
    return pca_square_and_project(spark, mat)


def _chain(terms) -> str:
    """Explicit left-associative IEEE add chain: ((0 + t0) + t1) + …"""
    return "CAST(0.0 AS DOUBLE)" + "".join(f" + {t}" for t in terms)


def _sql_matrix_literal(mat: list[list[float]]) -> str:
    """The bounded matrix as ONE SQL array<array<double>> literal.

    ``repr(float)`` is the shortest round-tripping decimal and Spark's
    string→double cast is correctly rounded (Double.parseDouble), so
    every cell ships BIT-EXACTLY.  One ~120 KB expression parsed once
    JVM-side: measured ~60 ms vs ~4.3 s for an F.lit nested list
    (4096 py4j round-trips) and ~4.6 s for a createDataFrame +
    coalesce(1) base (32 Python-RDD slices evaluated serially in one
    task, each paying a Python-worker round-trip)."""
    return (
        "array("
        + ",".join(
            "array("
            + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in row)
            + ")"
            for row in mat
        )
        + ")"
    )


def pca_square_and_project(spark, mat: list[list[float]]):
    """Lazy plan: PCA_SQUARINGS exact squaring levels, final matvec
    against x0, normalization, Rayleigh eigenvalue — all from one
    bounded matrix literal, no driver ferry.  Split out so tests can
    pin it against the ferried reference form.

    Per level the 4096 inner products run CODEGEN-side: a double
    posexplode enumerates (j, av) × (k, bv) pairs and the explicit
    left-associative add chain compiles under whole-stage codegen
    (the all-HOF form — nested ``transform`` lambdas — is interpreted
    expression eval with no codegen and measured ~0.7 s/level warm
    plus multi-second HotSpot warm-up on the first two runs; this form
    is ~2.0 s warm / 3.8 s cold for the whole 6-level phase).  The
    per-level rescale max and round(…/s, 12) ride the same engine ops
    as the ferried form (max over the same doubles via window; the
    division/round inputs are identical doubles), so every produced
    double is bit-identical — pinned by
    tests/test_pca.py::test_chain_matches_ferried_form.  The level's
    matrix is re-assembled into one array<array> row by two tiny
    ordered aggregations (sort_array(collect_list(struct(…)))) — pure
    restructuring of already-rounded doubles, no float arithmetic —
    whose Aggregate nodes also act as the projection-collapse barriers
    that keep the expression tree LINEAR in levels (the fully-inlined
    chained form compounded ~64×/level into a task-serialization OOM;
    the r14 ferry solved that with driver collects, this solves it
    plan-side with zero extra driver jobs).

    A rejected r15 variant is recorded here: folding this chain into
    ONE ``spark.sql`` CTE text made the warm plan-BUILD no faster
    (~1.3 s either way — analysis cost is dominated by the matrix
    literal, paid identically once per op or once per text) and the
    EXECUTION consistently ~0.6-0.8 s slower in a same-session
    interleaved A/B, so the DataFrame chain stays.
    """
    from pyspark.sql import Window

    lit = _sql_matrix_literal(mat)
    prod_chain = _chain(f"av[{i}] * bv[{i}]" for i in range(DIM))
    w_all = Window.partitionBy()
    df = spark.range(0, 1, 1, 1).select(F.expr(lit).alias("mat"))
    for _ in range(PCA_SQUARINGS):
        d = df.select("mat", F.posexplode("mat").alias("j", "av")).select(
            "j", "av", F.posexplode("mat").alias("k", "bv")
        )
        sq = d.select("j", "k", F.expr(prod_chain).alias("raw"))
        lev = sq.select(
            "j",
            "k",
            F.round(
                F.col("raw") / F.max(F.abs(F.col("raw"))).over(w_all), 12
            ).alias("m"),
        )
        rows = (
            lev.groupBy("j")
            .agg(F.expr("sort_array(collect_list(struct(k, m)))").alias("kr"))
            .select("j", F.expr("transform(kr, s -> s.m)").alias("row"))
        )
        df = rows.agg(
            F.expr("sort_array(collect_list(struct(j, row)))").alias("jr")
        ).select(F.expr("transform(jr, s -> s.row)").alias("mat"))
    # Bounded tail (64-element transforms with 64-term chains — ~4k
    # interpreted ops, negligible): matvec against x0, normalize, one
    # Rayleigh matvec against the ORIGINAL covariance (re-attached as
    # the same literal — it is a constant, no join needed).
    x0 = "CAST(0.125 AS DOUBLE)"  # _X0, exactly representable
    y_chain = _chain(f"row[{k}] * {x0}" for k in range(DIM))
    df = df.select(
        F.expr(f"transform(mat, row -> {y_chain})").alias("y"),
        F.expr(lit).alias("cov"),
    )
    df = df.select(
        "y",
        F.expr(f"sqrt({_chain(f'y[{j}] * y[{j}]' for j in range(DIM))})").alias(
            "nrm"
        ),
        "cov",
    )
    df = df.select(
        F.expr("transform(y, v -> round(v / nrm, 9))").alias("x"), "cov"
    )
    ray_chain = _chain(f"row[{k}] * x[{k}]" for k in range(DIM))
    df = df.select(
        "x", F.expr(f"transform(cov, row -> {ray_chain})").alias("ry")
    )
    df = df.select(
        "x",
        F.expr(
            f"sqrt({_chain(f'ry[{j}] * ry[{j}]' for j in range(DIM))})"
        ).alias("lam"),
    )
    return df.select(
        F.posexplode("x").alias("dim", "component"),
        F.round(F.col("lam"), 6).alias("eigenvalue"),
    ).select("dim", "component", "eigenvalue")
