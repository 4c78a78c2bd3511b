"""Embedding compression: symmetric int8 scalar quantization.

The 100 TB embedding problem is memory, not math: a 64-dim float32
corpus is 256 B/vector; int8 codes + one float scale are 68 B — a 3.8x
smaller index that turns shuffle and cache pressure directly into
recall-neutral savings (max reconstruction error <= scale/2 per
component).  Two operators:

- ``embedding_int8_quantize``: per-vector symmetric quantization
  q_j = floor(v_j / scale + 0.5), scale = max|v| / 127 — all inside
  whole-stage codegen (array HOFs, no Python), emitting integer
  checksums + the exact reconstruction error so the oracle pins every
  code without comparing raw arrays.
- ``knn_int8_cosine``: top-k search ON the codes.  Per-vector scales
  cancel inside cosine (cos = <q_a, q_b> / (|q_a| |q_b|) exactly),
  so ranking needs only INTEGER dot products — associative, overflow-
  safe (127^2 * 64 << 2^63) and bit-deterministic on any engine, a
  stronger parity story than any float fold.  Candidates come from the
  hyperplane-LSH bucket key recomputed on the codes (±1 planes ->
  integer sign bits), so the search is an equi-join on the bucket —
  the float corpus is never read after quantization.

Quantization arithmetic is written with the IDENTICAL expression text
on both engines (same divide, same floor(x + 0.5) half-up rule), so
codes agree bit-for-bit by construction.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hyperplane import HYPERPLANES, MAX_PLANES, pow2_grid_cte
from ..plans.registry import registered_query as _q
from .similarity import QUERY_MOD, TOP_K, lsh_nbuckets


@_q(
    "embedding_int8_quantize",
    "north-star: symmetric int8 scalar quantization (codegen array HOFs; "
    "integer checksums + exact reconstruction error pin every code)",
    """
    WITH amax AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS amax
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v, amax,
               CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS s
        FROM amax
    ),
    coded AS (
        SELECT vec_id, v, amax, s,
               list_transform(v, x -> CAST(floor(x / s + 0.5) AS INTEGER)) AS q
        FROM scaled
    )
    SELECT vec_id,
           CAST(len(q) AS INTEGER) AS n_dims,
           round(CASE WHEN amax = 0 THEN 0.0 ELSE s END, 9) AS scale,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q),
                            (a, x) -> a + x) AS BIGINT) AS q_sum,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(q, x -> abs(x))), (a, x) -> a + x)
                AS BIGINT) AS q_l1,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(q, x -> x * x)), (a, x) -> a + x)
                AS BIGINT) AS q_norm2,
           round(list_max(list_transform(list_zip(v, q),
                    z -> abs(CAST(z[1] AS DOUBLE)
                             - CAST(z[2] AS DOUBLE) * s))), 6) AS max_abs_err
    FROM coded
    """,
)
def _int8_quantize(spark, t):
    # Stateless per-row map — no shuffle, whole-stage codegen end to
    # end; at 100 TB this runs at scan speed and is the cheap
    # pre-pass that pays for itself in every downstream shuffle of the
    # 4x-smaller codes.  Zero vectors quantize to zero codes via the
    # s=1 guard (emitted scale 0 marks them).  Checksum trio
    # (sum, l1, norm2) + max reconstruction error over-determines the
    # code vector, so the oracle catches any divergence without
    # serializing arrays through the hash.
    # GOTCHA (cost, not correctness): a lambda that references an outer
    # per-row column (e.g. ``transform(v, x -> x / s)``) gets ``s`` —
    # and everything CollapseProject inlined into it, here the full
    # array_max pass — re-evaluated PER ELEMENT in the interpreted HOF
    # path: O(dim²) per row.  Feeding the scalar in through
    # ``array_repeat(s, size(v))`` evaluates it once per row no matter
    # what the optimizer inlines.
    v = t["embeddings"].select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    )
    amax = v.withColumn(
        "amax", F.expr("array_max(transform(v, x -> abs(x)))")
    )
    scaled = amax.withColumn(
        "s", F.expr("CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END")
    )
    coded = scaled.withColumn(
        "q",
        F.expr(
            "zip_with(v, array_repeat(s, size(v)),"
            " (x, sc) -> CAST(floor(x / sc + 0.5) AS INT))"
        ),
    ).withColumn(
        "recon",
        F.expr(
            "zip_with(q, array_repeat(s, size(q)),"
            " (c, sc) -> CAST(c AS DOUBLE) * sc)"
        ),
    )
    fold_int = "aggregate({arr}, CAST(0 AS BIGINT), (a, x) -> a + x)"
    return coded.select(
        "vec_id",
        F.expr("size(q)").cast("int").alias("n_dims"),
        F.round(
            F.expr("CASE WHEN amax = 0 THEN 0.0 ELSE s END"), 9
        ).alias("scale"),
        F.expr(fold_int.format(arr="q")).alias("q_sum"),
        F.expr(fold_int.format(arr="transform(q, x -> abs(x))")).alias("q_l1"),
        F.expr(fold_int.format(arr="transform(q, x -> x * x)")).alias("q_norm2"),
        F.round(
            F.expr("array_max(zip_with(v, recon, (x, r) -> abs(x - r)))"),
            6,
        ).alias("max_abs_err"),
    )


#: Integer dot product (Spark / DuckDB spellings) — exact, associative.
_IDOT_S = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * y),"
    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)
_IDOT_D = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(list_zip({a}, {b}),"
    " z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))),"
    " (acc, x) -> acc + x)"
)


# --- integer hyperplane bucket over the CODES -------------------------------
# The LSH bucket of knn_lsh_hyperplane, recomputed on the int8 codes
# with pure integer arithmetic: plane weights are ±1, so each sign bit
# is sign(sum ±q_j) — exact, overflow-safe, bit-identical on any
# engine.  Bucketing on the codes (not the floats) means the search
# index IS the compressed representation end to end: at 100 TB the
# float corpus is read once by the quantizer and never again.


def _iplane_lit_spark(j: int) -> str:
    return "array(" + ", ".join(str(int(w)) for w in HYPERPLANES[j]) + ")"


def _iplane_lit_duck(j: int) -> str:
    return "[" + ", ".join(str(int(w)) for w in HYPERPLANES[j]) + "]"


def _ibucket_spark(p: int) -> str:
    """Corpus-scaled integer bucket: exactly ``p`` sign bits."""
    bits = [
        f"(CASE WHEN {_IDOT_S.format(a='q', b=_iplane_lit_spark(j))} > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(p)
    ]
    return "CAST((" + " + ".join(bits) + ") AS INT)"


def _ibucket_duck_full() -> str:
    """All MAX_PLANES sign bits — the STATIC oracle computes the full
    key and masks with ``% nb`` (low bits are planes 0..P-1, identical
    to the Spark side's P-bit sum)."""
    bits = [
        f"(CASE WHEN {_IDOT_D.format(a='q', b=_iplane_lit_duck(j))} > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(MAX_PLANES)
    ]
    return "CAST((" + " + ".join(bits) + ") AS INTEGER)"


def _int8_knn_oracle() -> str:
    dot_qc = _IDOT_D.format(a="q.q", b="c.q")
    return f"""
    WITH coded AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x / (CASE WHEN amax = 0 THEN 1.0
                                        ELSE amax / 127.0 END) + 0.5)
                             AS INTEGER)) AS q
        FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) AS amax
            FROM embeddings
        )
    ),
    {pow2_grid_cte("lsh_params")},
    normed AS (
        SELECT vec_id, q,
               {_IDOT_D.format(a="q", b="q")} AS qn2,
               ({_ibucket_duck_full()}) % p.nb AS bucket
        FROM coded, lsh_params p
    ),
    qs AS (SELECT * FROM normed WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({dot_qc} AS DOUBLE)
                   / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(c.qn2 AS DOUBLE)) AS cos
        FROM qs q JOIN normed c
          ON c.bucket = q.bucket AND c.vec_id <> q.vec_id AND c.qn2 > 0
        WHERE q.qn2 > 0
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           round(cos, 6) AS cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {TOP_K}
    """


@_q(
    "knn_int8_cosine",
    "north-star: top-k cosine search on int8 codes inside integer-LSH "
    "buckets (scales cancel; 4x smaller index, bit-deterministic ranking)",
    _int8_knn_oracle(),
)
def _knn_int8(spark, t):
    # Search runs entirely on the compressed representation: the
    # per-vector scale cancels out of cosine, so candidate scoring is
    # integer multiply-accumulate — SIMD-friendly JVM codegen here, and
    # at 100 TB the index that rides every shuffle/broadcast is 4x
    # smaller than the float corpus the brute-force baseline moves.
    # Candidate generation is the same CORPUS-SCALED hyperplane LSH as
    # knn_lsh_hyperplane (#buckets = sqrt_pow2(N), identical planes),
    # but computed ON the codes with ±1-weight integer dots — an
    # equi-join on the bucket key, shuffle-bounded and
    # partition-prunable at 100 TB (the r2 all-pairs form was the
    # slowest bench query and grew O(N²/|mod|)).  Approximate by
    # design, exactly like the float LSH path; recall trade documented.
    # scale fed into the lambda via array_repeat: see _int8_quantize's
    # per-element-recompute gotcha (same math, O(dim) per row not O(dim²)).
    nb = lsh_nbuckets(spark, t)
    coded = (
        t["embeddings"]
        .select("vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v"))
        .withColumn("amax", F.expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn(
            "s", F.expr("CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END")
        )
        .withColumn(
            "q",
            F.expr(
                "zip_with(v, array_repeat(s, size(v)),"
                " (x, sc) -> CAST(floor(x / sc + 0.5) AS INT))"
            ),
        )
        .withColumn("qn2", F.expr(_IDOT_S.format(a="q", b="q")))
        .filter(F.col("qn2") > 0)
        .withColumn("bucket", F.expr(_ibucket_spark(nb.bit_length() - 1)))
        .select("vec_id", "q", "qn2", "bucket")
    )
    qs = coded.filter(F.col("vec_id") % QUERY_MOD == 0)
    scored = (
        qs.alias("q")
        .join(
            coded.alias("c"),
            (F.col("c.bucket") == F.col("q.bucket"))
            & (F.col("c.vec_id") != F.col("q.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.expr(
                f"CAST({_IDOT_S.format(a='q.q', b='c.q')} AS DOUBLE)"
                " / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(c.qn2 AS DOUBLE))"
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# --- per-dimension standardization (feature whitening pre-pass) -------------

#: fixed-point scale for the deterministic moment sums: components are
#: quantized to round-half-up micro-units, so the per-dimension sum
#: and sum-of-squares are exact BIGINT folds — order-independent and
#: bit-identical across engines; every downstream float op is then the
#: same IEEE expression over identical integers.
_STD_SCALE = 1_000_000


@_q(
    "embedding_standardize",
    "north-star: per-dimension z-score standardization via exact "
    "integer moment sums (whitening pre-pass for ANN / clustering)",
    f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    comp AS (
        SELECT vec_id,
               CAST(unnest(range(0, len(v))) AS INTEGER) AS dim,
               unnest(list_transform(range(0, len(v)),
                   i -> CAST(floor(v[i + 1] * {_STD_SCALE}.0 + 0.5) AS BIGINT)))
                   AS qx
        FROM base
    ),
    stats AS (
        SELECT dim, count(*) AS n, CAST(sum(qx) AS BIGINT) AS s,
               CAST(sum(qx * qx) AS BIGINT) AS ss
        FROM comp GROUP BY dim
    )
    SELECT c.vec_id, c.dim,
           round((CAST(c.qx AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
                 / sqrt(greatest(CAST(st.ss AS DOUBLE) / st.n
                        - (CAST(st.s AS DOUBLE) / st.n)
                          * (CAST(st.s AS DOUBLE) / st.n), 1e-18)), 6)
               AS z_score
    FROM comp c JOIN stats st USING (dim)
    """,
)
def _standardize(spark, t):
    # One shuffle total: the per-dimension moment aggregation (64 rows
    # out), broadcast back onto the exploded components — the join adds
    # no second corpus shuffle.  Moments are exact integer folds of the
    # micro-unit codes, so mean/std — and therefore every z-score — are
    # bit-identical on any engine and any partitioning; a raw float
    # sum here would be partition-order-dependent.  At 100 TB the
    # BIGINT sum-of-squares bound (1e12 per component) wants a
    # two-level DECIMAL(38) rollup; at bench scale the headroom is 1e5.
    comp = (
        t["embeddings"]
        .select("vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v"))
        .select("vec_id", F.posexplode("v").alias("dim", "x"))
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.expr(
                f"CAST(floor(x * {_STD_SCALE}.0 + 0.5) AS BIGINT)"
            ).alias("qx"),
        )
    )
    stats = comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qx").alias("s"),
        F.sum(F.expr("qx * qx")).alias("ss"),
    )
    mu = "CAST(s AS DOUBLE) / n"
    sigma = f"sqrt(greatest(CAST(ss AS DOUBLE) / n - ({mu}) * ({mu}), 1e-18))"
    return comp.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.expr(f"round((CAST(qx AS DOUBLE) - {mu}) / {sigma}, 6)").alias(
            "z_score"
        ),
    )
