"""Product quantization (PQ): subspace codebooks + asymmetric distance.

The third leg of the embedding-compression story (after int8 scalar
quantization and the integer-LSH search on its codes): split the
64-dim vector into M=8 subspaces of 8 dims, quantize each subvector
to its nearest of K=16 codebook centroids, and search with ADC
(asymmetric distance computation) — the query stays exact, each
candidate contributes only M table lookups into a per-query
[M x K] squared-L2 LUT.  A PQ code is M * log2(K) = 32 bits per
vector: 64x smaller than the float corpus, the representation that
makes billion-scale ANN indexes fit in memory (Jégou et al., TPAMI
2011 — public method).

Determinism discipline — the ENTIRE path is exact integer
arithmetic in micro-units (coordinate x -> floor(x * 1e6 + 0.5) as
BIGINT, applied ONCE to the bit-identical parquet doubles):
- The codebook is TRAINED: seeded with the subvector set of the 16
  smallest ``vec_id`` vectors (a deterministic, engine-independent
  sample — never a random init), then refined by ``PQ_TRAIN_ROUNDS``
  per-subspace Lloyd rounds over the deterministic training sample
  ``vec_id % PQ_TRAIN_MOD == 0`` — the standard PQ practice of
  training on a bounded subset rather than the corpus (full-corpus
  assignment per round is N x M x K distance rows: a scale-killer at
  100 TB and the r6 bench's only regression).  Each round's refold
  is an exact BIGINT sum of member micro-coordinates (associative ⇒
  partitioning-independent) and the new centroid coordinate is the
  INTEGER round-half-up mean floor((2·sx + n) / (2·n)) — computed
  with ``%``/``div`` only, no doubles — so both engines enter every
  round with IDENTICAL integer codebooks.  (The previous float form
  rounded the mean to 6 decimals via each engine's ``round``; Spark's
  exact-decimal HALF_UP and DuckDB's float-math round can differ by
  1 ulp, which flipped an ADC fixed-point cell at sf0.001.)  A code
  that loses all members keeps its previous centroid, so the codebook
  never shrinks; the oracle unrolls the same computation as CTEs.
- Both PQ queries SHARE one trained codebook per (session, corpus
  plan): training runs once even when a session builds encode and
  search back-to-back (previously each call trained independently and
  accumulated its own persisted frames).
- Encode argmin compares exact BIGINT squared distances (micro-unit
  fold, identical on both engines) with an explicit code tie-break.
- The ADC LUT entries are the same exact BIGINT squared distances, so
  candidate scores are exact integer sums — ranking never compares
  floats; the reported ``adc_dist2`` is a single IEEE division of the
  identical BIGINT score by 1e12 (bit-identical cross-engine).

Scale notes (100 TB): the codebook (128 rows) rides the driver as a
fixed-size artifact; encode is one Arrow-batched argmin kernel over the
corpus; search is the salted per-(bucket or cell, salt) top-k scan the
cosine searches share (``similarity.salted_topk_scan``) with the ADC
LUT as its scorer — no all-pairs stage anywhere.

The reference has no similarity search (it is a cancellation ETL);
this module is north-star surface per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import memo, persist_tracked
from ..functions.hyperplane import (
    full_bucket_expr_duck,
    pow2_grid_cte,
    scaled_bucket_expr_spark,
)
from ..plans.registry import registered_query as _q
from .similarity import (
    QUERY_MOD,
    TOP_K,
    corpus_count,
    lsh_nbuckets,
    salted_topk_scan,
)

#: M subspaces x DSUB dims each (M * DSUB = 64); K centroids per
#: subspace -> 4-bit codes, 32 bits per vector.
M_SUB, DSUB, K_CODES = 8, 8, 16

#: Lloyd refinement rounds for the codebook (matches the top-level
#: ``LLOYD_ROUNDS`` discipline: fixed, small, unrollable in SQL).
PQ_TRAIN_ROUNDS = 2

#: Lloyd training sample: vec_id % PQ_TRAIN_MOD == 0 (12.5 % of the
#: corpus) — deterministic, engine-independent, and mirrored verbatim
#: in the oracle CTE.  Seeding stays full-corpus (16 smallest vec_ids)
#: so the codebook is complete even when the sample is tiny.
PQ_TRAIN_MOD = 8

#: micro-unit coordinate scale: every coordinate is quantized ONCE to
#: ``floor(x * _LUT_SCALE + 0.5)`` as BIGINT; squared distances are
#: therefore exact integers in units of 1 / _LUT_SCALE**2.
_LUT_SCALE = 1_000_000

#: exact integer squared-L2 fold between two micro-unit BIGINT arrays
#: — identical expression semantics on both engines, and since every
#: term is an integer the result is order-independent anyway.
_L2_S = (
    "aggregate(zip_with({a}, {b}, (x, c) -> (x - c) * (x - c)),"
    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)
_L2_D = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(list_zip({a}, {b}),"
    " z -> (CAST(z[1] AS BIGINT) - CAST(z[2] AS BIGINT))"
    " * (CAST(z[1] AS BIGINT) - CAST(z[2] AS BIGINT)))),"
    " (acc, x) -> acc + x)"
)

#: integer round-half-up mean floor((2*sx + n) / (2n)) with C-style
#: ``%`` normalized to a positive remainder first, so truncating
#: division (Spark ``div`` / DuckDB ``//``) is exact — no doubles.
_IMEAN_S = (
    "(2*sx + n - ((((2*sx + n) % (2*n)) + 2*n) % (2*n))) div (2*n)"
)
_IMEAN_D = (
    "(2*sx + n - ((((2*sx + n) % (2*n)) + 2*n) % (2*n))) // (2*n)"
)
# ADC is the classic L2 form: each candidate's distance is the sum of
# its M subspace ||query_sub - centroid||² LUT entries (Jégou et al.).
# A dot-product LUT would NOT rank an exact duplicate first — another
# centroid can reconstruct a larger inner product than the duplicate's
# own (distance-0) centroid; squared-L2 is uniquely minimized at 0.


def _vectors(t) -> DataFrame:
    """(vec_id, v double[], u bigint[]): raw doubles for the hyperplane
    bucket, micro-unit integers for every distance computation."""
    return t["embeddings"].select(
        "vec_id",
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v"),
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            f" x -> CAST(floor(x * {_LUT_SCALE}.0 + 0.5) AS BIGINT))"
        ).alias("u"),
    )


def _centroids(vecs: DataFrame) -> DataFrame:
    """[M x K] codebook: micro-unit subvectors of the 16 smallest-vec_id
    seeds."""
    seeds = vecs.orderBy("vec_id").limit(K_CODES)
    w = Window.orderBy("vec_id")
    coded = seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("code"), "u"
    )
    return coded.select(
        "code",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {M_SUB - 1}),"
                f" s -> slice(u, s * {DSUB} + 1, {DSUB}))"
            )
        ).alias("sub", "c"),
    ).select(F.col("sub").cast("int").alias("sub"), "code", "c")


def _subvectors(vecs: DataFrame) -> DataFrame:
    return vecs.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {M_SUB - 1}),"
                f" s -> slice(u, s * {DSUB} + 1, {DSUB}))"
            )
        ).alias("sub", "sv"),
    ).select("vec_id", F.col("sub").cast("int").alias("sub"), "sv")


def _encode(vecs: DataFrame, cent: DataFrame, width: int) -> DataFrame:
    """(vec_id, codes array<int>) — nearest-centroid argmin per
    subspace, at MATMUL SPEED with exact-integer semantics, emitted once
    per vector: what the cell-confined IVF-PQ scan consumes (M gathers
    per candidate want the code vector contiguous); the per-sub shape
    is a posexplode away.

    The squared distance expands to |sv|² + |c|² - 2·sv·c over the
    micro-unit BIGINTs; every term (≤~3e13) is far below 2^53, so
    float64 arithmetic on them is EXACT and order-independent — the
    BLAS matmul computes literally the same integers as the BIGINT
    ``_L2_S`` folds the oracle (and the training loop) use, so argmin
    plus the first-min tie-break (= lowest code, numpy's argmin
    semantics) is bit-identical to ``min(struct(dist, code))``.  The
    per-(vector, cell) interpreted HOF fold this replaces was the
    corpus-encode wall at the third scale decade (64M 8-dim folds at
    sf25).  The codebook rides the closure as a bounded [M x K x DSUB]
    array; the corpus is hash-repartitioned to full parallelism first
    (a small parquet's few scan partitions would serialize the
    kernel).
    """
    import numpy as np

    spark = vecs.sparkSession
    rows = cent.collect()
    # Completeness contract, enforced: the dense codebook array maps a
    # missing (sub, code) entry to a zero centroid that could win the
    # argmin — semantics the join-based form never had.  Training's
    # keep-old-on-empty merge guarantees all M*K entries today; assert
    # it so a future training change fails loudly instead of silently
    # introducing phantom zero centroids.
    if len({(r["sub"], r["code"]) for r in rows}) != M_SUB * K_CODES:
        raise ValueError(
            f"_encode: codebook must carry exactly {M_SUB}x{K_CODES} "
            f"distinct (sub, code) entries, got {len(rows)} rows"
        )
    C = np.zeros((M_SUB, K_CODES, DSUB))
    for r in rows:
        C[r["sub"], r["code"]] = list(r["c"])
    bc = spark.sparkContext.broadcast(C)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        C_ = bc.value
        cn2 = (C_ * C_).sum(axis=2)  # (M, K) exact ints in float64
        cmax = np.abs(C_).max(initial=1.0)
        for pdf in batches:
            U = np.stack(pdf["u"].to_numpy()).astype(np.float64)
            # Exactness contract, enforced: each expanded distance is
            # ≤ DSUB·(|u|+|c|)², which must stay below 2^53 for the
            # float64 matmul to equal the oracle's BIGINT L2 folds.
            if DSUB * (np.abs(U).max(initial=0.0) + cmax) ** 2 >= 2.0**53:
                raise ValueError(
                    "_encode: DSUB*(|u|+|c|)^2 exceeds the 2^53 exact-"
                    "integer float64 headroom; codes would diverge "
                    "from the BIGINT oracle"
                )
            n = len(U)
            Us = U.reshape(n, M_SUB, DSUB)
            un2 = (Us * Us).sum(axis=2)  # (n, M) exact
            codes = np.empty((n, M_SUB), dtype=np.int64)
            for s in range(M_SUB):
                S = Us[:, s, :] @ C_[s].T  # (n, K) exact
                d = un2[:, s][:, None] + cn2[s][None, :] - 2.0 * S
                codes[:, s] = np.argmin(d, axis=1)  # first min = lowest code
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes.astype("int32"))}
            )

    # Occupancy-sized kernel width (the kmeans _KMEANS_TASK_ROWS
    # discipline, r15): a small corpus stays a couple of Arrow tasks
    # instead of fanning defaultParallelism near-empty Python workers
    # (measured ~1.1 s of fixed fan-out for a 2000-row corpus at 32
    # tasks), while a large corpus still spreads to full parallelism.
    # Codes are per-row argmins — values identical at any width.
    par = max(1, min(spark.sparkContext.defaultParallelism, width))
    return (
        vecs.select("vec_id", "u")
        .repartition(par, "vec_id")
        .mapInPandas(kernel, "vec_id long, codes array<int>")
    )


#: rows per encode-kernel task (the kmeans _KMEANS_TASK_ROWS value —
#: one Arrow batch region big enough that numpy matmuls amortize the
#: worker round-trip).
_ENCODE_TASK_ROWS = 16384

def _shared_packed_codes(spark, t) -> DataFrame:
    """Persisted (vec_id, codes ARRAY<INT>) — THE corpus PQ assignment
    against the shared codebook, built once per session for the four
    PQ consumers (r15; guide §1.2 don't recompute).

    Before: ``embedding_pq_codes``, ``_adc_scored`` (pq_adc +
    pq_refine) and ``knn_ivfpq_adc`` each ran their own corpus encode —
    identical kernel, identical codebook, ~1.1 s of fixed Arrow fan-out
    + codebook collect per call at sf0.1.  The codes are per-row
    argmins against a session-stable codebook, so one persisted frame
    serves every consumer with values unchanged (the unpacked per-sub
    shape is a posexplode away).  A frame entry of the session memo
    keyed by the embeddings source (``release_tracked`` drops it with
    its data); a fileless synthetic corpus separates via the plan hash.

    The vectors and codebook are DERIVED here from ``t`` (r15 ADVICE):
    the cache key identifies the corpus, so a signature accepting
    arbitrary ``vecs``/``cent`` could silently serve codes computed
    against whichever codebook built first."""
    vecs = _vectors(t)
    cent = _shared_codebook(spark, vecs)

    def encode():
        n = corpus_count(spark, t["embeddings"])
        width = -(-n // _ENCODE_TASK_ROWS)  # ceil div
        return _encode(vecs, cent, width)

    return memo("pq_packed_codes", t["embeddings"], encode, frame=True)


def _train_codebook(
    vecs: DataFrame, rounds: int = PQ_TRAIN_ROUNDS
) -> DataFrame:
    """Per-subspace Lloyd refinement of the seed codebook.

    Training reads only the deterministic sample
    ``vec_id % PQ_TRAIN_MOD == 0``.  Each round: (1) assign every
    SAMPLE subvector to its nearest centroid (the same broadcast-argmin
    as encode), (2) refold new centroids as the per-dimension INTEGER
    round-half-up mean of the members' micro-unit coordinates (exact
    BIGINT sums are associative ⇒ partitioning-independent; the
    integer mean needs no doubles, so both engines enter the next
    round with identical integer codebooks), (3) a code with no sample
    members keeps its previous centroid (the driver-side merge only
    overwrites dimensions the refold produced), so the codebook never
    shrinks.  ``rounds=0`` returns the raw seed codebook.

    Scale: assignment is (N / PQ_TRAIN_MOD) x M x K slim rows into a
    combinable argmin; the refold is (N / PQ_TRAIN_MOD) x M x DSUB rows
    into one plain integer-sum aggregation; the evolving
    codebook rides the driver as a <= 128-row literal, re-broadcast
    each round.
    """
    cent = _centroids(vecs)
    if rounds <= 0:
        return cent
    spark = vecs.sparkSession
    # Bounded driver round-trip per round (<= M*K = 128 codebook rows,
    # <= M*K*DSUB = 1024 refold rows; fixed sizes at ANY corpus scale):
    # each round's assignment+refold runs as ONE shallow job against a
    # LITERAL broadcast of the previous codebook, instead of nesting
    # rounds into one ever-deeper plan whose stage overhead dominated
    # wall time.  The keep-old-on-empty merge is an exact dict update on
    # already-rounded values — no driver float math, so the codebook is
    # bit-identical to the nested form the oracle CTE unrolls.
    cent_rows = {
        (r["sub"], r["code"]): list(r["c"]) for r in cent.collect()
    }
    subs = persist_tracked(
        _subvectors(vecs.filter(F.col("vec_id") % PQ_TRAIN_MOD == 0))
    )
    schema = "sub int, code int, c array<bigint>"
    for _ in range(rounds):
        cent = spark.createDataFrame(
            [(s, k, c) for (s, k), c in sorted(cent_rows.items())], schema
        )
        # assign + refold fused: the argmin agg carries the subvector
        # (constant per (vec_id, sub) group) so no join back is needed.
        assigned = (
            subs.join(F.broadcast(cent), "sub")
            .select(
                "vec_id",
                "sub",
                "code",
                "sv",
                F.expr(_L2_S.format(a="sv", b="c")).alias("dist"),
            )
            .groupBy("vec_id", "sub")
            .agg(
                F.min(F.struct("dist", "code")).getField("code").alias("code"),
                F.first("sv").alias("sv"),
            )
        )
        expl = assigned.select(
            "sub", "code", F.posexplode("sv").alias("d", "x")
        )
        newc = (
            expl.groupBy("sub", "code", "d")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .select(
                "sub",
                "code",
                F.col("d").cast("int").alias("d"),
                F.expr(_IMEAN_S).cast("bigint").alias("val"),
            )
        )
        for r in newc.collect():
            cent_rows[(r["sub"], r["code"])][r["d"]] = r["val"]
    return spark.createDataFrame(
        [(s, k, c) for (s, k), c in sorted(cent_rows.items())], schema
    )


def _shared_codebook(spark, vecs: DataFrame) -> DataFrame:
    """Train once per (session, corpus plan); serve a MATERIALIZED copy.

    The trained codebook is collected — a bounded M x K = 128-row
    artifact, fixed-size at ANY corpus scale (PQ codebooks are
    driver-side artifacts in every production ANN system) — and
    re-created as a local relation.  Consumers' plans then start from a
    literal 128-row broadcast instead of embedding the multi-stage
    training subtree, so encode and search stay shallow one-shuffle
    plans and training's stage overhead is paid once per session, not
    once per query.  This makes the PQ builders CONTRACTUALLY EAGER on
    first use (see plans/registry.py QuerySpec).

    A value entry of the session memo, keyed by the corpus plan and
    its input files: both PQ queries call this, so a session building
    encode and search back-to-back trains once, and the entry survives
    ``release_tracked`` (128 local rows, zero executor memory — the
    way a production ANN system trains a codebook once per corpus and
    ships it, never retraining per query batch).
    """
    from ..artifacts import load_or_train

    # disk layer under the session memo (r12): a fresh session LOADS
    # the trained codebook instead of retraining it — the
    # train-once/serve-many production shape.
    return memo(
        "pq_codebook",
        vecs,
        lambda: load_or_train(
            spark,
            "pq_codebook",
            vecs,
            "sub int, code int, c array<bigint>",
            lambda: _train_codebook(vecs),
            ["sub", "code"],
        ),
    )


def _codebook_cte(rounds: int = PQ_TRAIN_ROUNDS) -> str:
    """Seed + unrolled Lloyd training + final ``cent`` / ``codes`` CTEs.

    The exact mirror of ``_train_codebook``: a fixed round count
    unrolls as one (assign, newc, cent) CTE triple per round, with the
    same one-shot micro-unit coordinate quantization, the same exact
    BIGINT refold + integer round-half-up mean, and the same
    keep-old-on-empty coalesce — so every intermediate codebook is
    IDENTICAL (integer-equal, not merely float-close) across engines.
    """
    parts = [
        f"""
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_transform(CAST(embedding AS DOUBLE[]),
                     x -> CAST(floor(x * {_LUT_SCALE}.0 + 0.5) AS BIGINT))
                     AS u
          FROM embeddings),
    seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS code, u
        FROM (SELECT vec_id, u FROM v ORDER BY vec_id LIMIT {K_CODES})
    ),
    subs AS (SELECT CAST(unnest(range(0, {M_SUB})) AS INTEGER) AS sub),
    cent0 AS (
        SELECT s.sub, seeds.code,
               list_slice(seeds.u, s.sub * {DSUB} + 1, s.sub * {DSUB} + {DSUB})
                   AS c
        FROM seeds, subs s
    ),
    corpus_sub AS (
        SELECT vec_id, s.sub,
               list_slice(v.u, s.sub * {DSUB} + 1, s.sub * {DSUB} + {DSUB})
                   AS sv
        FROM v, subs s
    ),
    train_sub AS (
        SELECT * FROM corpus_sub WHERE vec_id % {PQ_TRAIN_MOD} = 0
    )"""
    ]
    for r in range(rounds):
        parts.append(f"""
    assign{r} AS (
        SELECT vec_id, sub, code FROM (
            SELECT cs.vec_id, cs.sub, ct.code,
                   row_number() OVER (
                       PARTITION BY cs.vec_id, cs.sub
                       ORDER BY {_L2_D.format(a="cs.sv", b="ct.c")}, ct.code)
                       AS rn
            FROM train_sub cs JOIN cent{r} ct ON ct.sub = cs.sub
        ) WHERE rn = 1
    ),
    newc{r} AS (
        SELECT sub, code, d, CAST({_IMEAN_D} AS BIGINT) AS val
        FROM (
            SELECT a.sub, a.code, CAST(j AS INTEGER) AS d,
                   CAST(sum(cs.sv[j + 1]) AS BIGINT) AS sx,
                   count(*) AS n
            FROM train_sub cs
            JOIN assign{r} a ON a.vec_id = cs.vec_id AND a.sub = cs.sub,
                 (SELECT unnest(range(0, {DSUB})) AS j)
            GROUP BY a.sub, a.code, j
        )
    ),
    cent{r + 1} AS (
        SELECT o.sub, o.code, list(COALESCE(n.val, o.val) ORDER BY o.d) AS c
        FROM (SELECT sub, code, CAST(d AS INTEGER) AS d, c[d + 1] AS val
              FROM cent{r}, (SELECT unnest(range(0, {DSUB})) AS d)) o
        LEFT JOIN newc{r} n
          ON n.sub = o.sub AND n.code = o.code AND n.d = o.d
        GROUP BY o.sub, o.code
    )""")
    parts.append(f"""
    cent AS (SELECT sub, code, c FROM cent{rounds}),
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT cs.vec_id, cs.sub, ct.code,
                   row_number() OVER (
                       PARTITION BY cs.vec_id, cs.sub
                       ORDER BY {_L2_D.format(a="cs.sv", b="ct.c")}, ct.code)
                       AS rn
            FROM corpus_sub cs JOIN cent ct ON ct.sub = cs.sub
        ) WHERE rn = 1
    )""")
    return ",".join(parts)


_CODEBOOK_CTE = _codebook_cte()


@_q(
    "embedding_pq_codes",
    "north-star: product-quantization encode — [8x16] Lloyd-trained "
    "codebook, per-subspace argmin, 32-bit codes (positional-key "
    "checksummed)",
    f"""
    WITH {_CODEBOOK_CTE}
    SELECT vec_id, CAST(count(*) AS INTEGER) AS n_sub,
           CAST(sum(code) AS BIGINT) AS code_sum,
           CAST(sum(code * CAST(pow({K_CODES}, sub) AS BIGINT)) AS BIGINT)
               AS code_key
    FROM codes GROUP BY vec_id
    """,
)
def _pq_codes(spark, t):
    # code_key folds the M codes positionally (base-K), so it fully
    # determines the code vector — the oracle pins every assignment
    # without hashing arrays; code_sum is the cheap cross-check.
    # (vec_id, sub, code) rows from the shared packed assignment: the
    # codes array is built in sub order, so posexplode numbers subs.
    codes = _shared_packed_codes(spark, t).select("vec_id", F.posexplode("codes").alias("sub", "code"))
    return codes.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_sub"),
        F.sum("code").cast("bigint").alias("code_sum"),
        F.sum(
            F.expr(f"code * CAST(pow({K_CODES}, sub) AS BIGINT)")
        ).cast("bigint").alias("code_key"),
    )


#: ADC scoring pipeline (qs → candidates → LUT → integer sums), shared
#: verbatim by the one-stage search oracle and the rerank oracle below.
_ADC_SCORED_CTES = f"""
    {pow2_grid_cte("lsh_params")},
    qs AS (
        SELECT v.vec_id, v.v, v.u,
               ({full_bucket_expr_duck("v.v")}) % p.nb AS bucket
        FROM v, lsh_params p WHERE vec_id % {QUERY_MOD} = 0
    ),
    corpus_b AS (
        SELECT v.vec_id, ({full_bucket_expr_duck("v.v")}) % p.nb AS bucket
        FROM v, lsh_params p
    ),
    lut AS (
        SELECT q.vec_id AS query_id, ct.sub, ct.code,
               {_L2_D.format(
                   a=f"list_slice(q.u, ct.sub * {DSUB} + 1,"
                     f" ct.sub * {DSUB} + {DSUB})",
                   b="ct.c",
               )} AS qd
        FROM qs q, cent ct
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM qs q JOIN corpus_b c
          ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id, CAST(sum(l.qd) AS BIGINT) AS s
        FROM cand
        JOIN codes k ON k.vec_id = cand.neighbor_id
        JOIN lut l ON l.query_id = cand.query_id
                  AND l.sub = k.sub AND l.code = k.code
        GROUP BY 1, 2
    )"""


def _adc_ranked(scored: DataFrame, depth: int) -> DataFrame:
    """The shared ADC merge window: each query's best ``depth`` rows
    by exact-BIGINT ``s`` with a neighbor_id tie-break, ranked
    ``rnk``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= depth
    )


def _adc_topk(scored: DataFrame) -> DataFrame:
    """The shared ranking tail: ``_adc_ranked`` to TOP_K, with
    ``adc_dist2`` as one IEEE division for display."""
    return _adc_ranked(scored, TOP_K).select(
        "query_id",
        "neighbor_id",
        F.col("rnk").cast("int").alias("rank"),
        (
            F.col("s").cast("double")
            / F.lit(float(_LUT_SCALE) * float(_LUT_SCALE))
        ).alias("adc_dist2"),
    )


def _codebook_matrix(cent: DataFrame):
    """The trained codebook as a [M x K x DSUB] int64 array — bounded
    (128 x DSUB) at any corpus size, so collecting it is the same
    artifact discipline as broadcasting it."""
    import numpy as np

    C = np.zeros((M_SUB, K_CODES, DSUB), dtype=np.int64)
    for r in cent.collect():
        C[r["sub"], r["code"]] = list(r["c"])
    return C


def _adc_score(C):
    """The ADC scorer of ``salted_topk_scan`` over the [M x K x DSUB]
    codebook ``C``: each query's [M x K] exact-int64 LUT, then M code
    gathers per member — identical BIGINT sums to the oracles'
    per-(pair, sub) LUT joins (|u|,|c| ≤ ~1.2e7 ⇒ every term ≤
    ~4.6e15, far inside int64).  Members carry packed ``codes``,
    queries their micro-unit ``u``."""

    def score(members, queries):
        import numpy as np

        codes = np.stack(members["codes"].to_numpy()).astype(np.int64)
        U = np.stack(queries["u"].to_numpy()).astype(np.int64)
        diff = U.reshape(len(U), M_SUB, DSUB)[:, :, None, :] - C[None]
        lut = (diff * diff).sum(axis=3)  # (nq, M, K)
        S = np.zeros((len(U), len(codes)), dtype=np.int64)
        for m in range(M_SUB):
            S += lut[:, m][:, codes[:, m]]
        return S

    return score


def _adc_scored(
    spark, t, vecs: DataFrame, cent: DataFrame, depth: int
) -> DataFrame:
    """(query_id, neighbor_id, s): per-query local top-``depth`` ADC
    scores over HYPERPLANE-BUCKET candidates — the first stage of the
    one-shot search and the reranked variant (output-identical to the
    ``_ADC_SCORED_CTES`` oracle block under the callers' merge
    windows).  Buckets are corpus-scaled (``lsh_nbuckets``, occupancy
    √N) and scanned by ``salted_topk_scan`` with the ``_adc_score``
    scorer — the previous candidate-pair equi-join + per-(pair, sub)
    LUT join + aggregation measured 290 s cold at sf25 on exactly this
    path (the pre-r9 IVF-PQ disease with buckets in place of cells);
    the kernel scans the same candidates at C speed with identical
    BIGINT sums."""
    nb = lsh_nbuckets(spark, t)
    bucketed = vecs.select(
        "vec_id", scaled_bucket_expr_spark("v", nb).alias("key")
    )
    corpus = _shared_packed_codes(spark, t).join(bucketed, "vec_id")
    qs = vecs.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        scaled_bucket_expr_spark("v", nb).alias("key"),
        "u",
    )
    return salted_topk_scan(
        t, corpus, qs, nb, depth, _adc_score(_codebook_matrix(cent)), "long"
    )


@_q(
    "knn_pq_adc",
    "north-star: PQ asymmetric-distance search — per-query integer LUT, "
    "hyperplane-bucket candidates, exact fixed-point ranking",
    f"""
    WITH {_CODEBOOK_CTE},{_ADC_SCORED_CTES}
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank,
           CAST(s AS DOUBLE) / {_LUT_SCALE * _LUT_SCALE}.0 AS adc_dist2
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY s ASC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """,
)
def _knn_pq(spark, t):
    # Approximate by design on two axes, both documented: candidate
    # recall is the hyperplane bucket's (same contract as the LSH and
    # int8 paths), and scores are the PQ reconstruction of squared L2
    # distance (query-to-centroid instead of query-to-vector).
    # Ranking compares exact BIGINT LUT sums — no float ordering.
    vecs = _vectors(t)
    cent = _shared_codebook(spark, vecs)
    return _adc_topk(_adc_scored(spark, t, vecs, cent, TOP_K))


#: rerank shortlist depth: the ADC stage hands its best 4*TOP_K
#: candidates per query to the exact stage — the standard two-stage
#: retrieval ratio (shortlist a small multiple of k, rerank exactly).
PQ_SHORTLIST = 4 * TOP_K


@_q(
    "knn_pq_refine",
    "north-star: two-stage PQ retrieval — ADC shortlist re-ranked by "
    "exact integer squared-L2 (coarse-then-exact, production ANN shape)",
    f"""
    WITH {_CODEBOOK_CTE},{_ADC_SCORED_CTES},
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY s ASC, neighbor_id) AS rnk
            FROM scored)
        WHERE rnk <= {PQ_SHORTLIST}
    ),
    exact AS (
        SELECT sh.query_id, sh.neighbor_id,
               {_L2_D.format(a="q.u", b="n.u")} AS d2
        FROM short sh
        JOIN v q ON q.vec_id = sh.query_id
        JOIN v n ON n.vec_id = sh.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
           CAST(d2 AS DOUBLE) / {_LUT_SCALE * _LUT_SCALE}.0 AS exact_dist2
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY d2 ASC, neighbor_id) AS rn
          FROM exact)
    WHERE rn <= {TOP_K}
    """,
)
def _knn_pq_refine(spark, t):
    """Two-stage retrieval: the ADC scores produce a per-query
    shortlist of ``PQ_SHORTLIST`` candidates (cheap — M LUT lookups
    per candidate), and only the shortlist pays the full-dimension
    distance.  This is how production PQ indexes are actually queried
    (IndexIVFPQ + refine in Faiss terms — public architecture): the
    compressed-domain scan does the winnowing, the exact pass fixes
    the ordering errors PQ reconstruction introduces.

    Determinism: both stages rank on exact BIGINTs (ADC sums, then
    micro-unit squared L2 on the full vectors), both tie-broken on
    neighbor_id — no float enters either ordering; ``exact_dist2`` is
    one IEEE division for display.

    Scale shape (100 TB): stage 1 is ``_adc_scored``'s salted
    per-bucket scan to depth PQ_SHORTLIST, cut by the same ADC merge
    window as ``knn_pq_adc``; the rerank joins only |queries| x
    PQ_SHORTLIST slim rows back to the corpus vectors — two shuffle
    equi-joins bounded by the shortlist, never by the corpus.
    """
    vecs = _vectors(t)
    cent = _shared_codebook(spark, vecs)
    scored = _adc_scored(spark, t, vecs, cent, PQ_SHORTLIST)
    short = _adc_ranked(scored, PQ_SHORTLIST).select("query_id", "neighbor_id")
    qu = vecs.select(F.col("vec_id").alias("query_id"), F.col("u").alias("qu"))
    nu = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("u").alias("nu")
    )
    exact = (
        short.join(qu, "query_id")
        .join(nu, "neighbor_id")
        .withColumn("d2", F.expr(_L2_S.format(a="qu", b="nu")))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rn").cast("int").alias("rank"),
            (
                F.col("d2").cast("double")
                / F.lit(float(_LUT_SCALE) * float(_LUT_SCALE))
            ).alias("exact_dist2"),
        )
    )


# --- IVF-PQ: learned coarse quantizer + compressed-domain ranking -----------


def _ivfpq_oracle() -> str:
    from .similarity import ivf_assign_cte

    lut_l2 = _L2_D.format(
        a=f"list_slice(q.u, ct.sub * {DSUB} + 1, ct.sub * {DSUB} + {DSUB})",
        b="ct.c",
    )
    return f"""
    WITH {_CODEBOOK_CTE},
    {ivf_assign_cte()},
    qs AS (
        SELECT v.vec_id, v.u, a.cell
        FROM v JOIN assign a USING (vec_id)
        WHERE v.vec_id % {QUERY_MOD} = 0
    ),
    lut AS (
        SELECT q.vec_id AS query_id, ct.sub, ct.code, {lut_l2} AS qd
        FROM qs q, cent ct
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM qs q JOIN assign c ON c.cell = q.cell AND c.vec_id <> q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id, CAST(sum(l.qd) AS BIGINT) AS s
        FROM cand
        JOIN codes k ON k.vec_id = cand.neighbor_id
        JOIN lut l ON l.query_id = cand.query_id
                  AND l.sub = k.sub AND l.code = k.code
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rank,
           CAST(s AS DOUBLE) / {_LUT_SCALE * _LUT_SCALE}.0 AS adc_dist2
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY s ASC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """


@_q(
    "knn_ivfpq_adc",
    "north-star: IVF-PQ — learned coarse-quantizer cells confine the "
    "candidates, PQ integer LUT ranks them (the Faiss IndexIVFPQ shape)",
    _ivfpq_oracle(),
)
def _knn_ivfpq(spark, t):
    """The production billion-scale ANN index shape (Faiss IndexIVFPQ,
    Jégou et al. — public architecture), composed from the two halves
    this module and ``similarity.py`` already certify separately:
    the LEARNED coarse quantizer assigns every vector to a centroid
    cell (``ivf_cells`` — same artifact ``knn_ivf_kmeans`` searches),
    and within the query's cell candidates are ranked by the PQ
    asymmetric-distance LUT over the shared trained codebook — the
    compressed-domain scan that makes the residency math work at
    100 TB: cells prune the corpus, 32-bit codes prune the bytes.

    Scale shape — the Faiss per-list scan, not a row-explosion join:
    packed 32-bit codes cogroup with the queries of their (cell,
    salt) group in ``salted_topk_scan``, and the ``_adc_score`` scorer
    builds each query's [M x K] integer LUT and gathers M codes per
    candidate — the same arithmetic the previous form paid a
    candidate-pair equi-join + per-(pair, sub) LUT join + aggregation
    for (measured 306 s cold at sf25, dominated by shuffling |q| x
    occupancy x M slim rows through two joins and a window; the
    kernel scans the same candidates at C speed).  Hot cells are
    salt-split so no task ever holds a whole skewed cell; the final
    merge window ranks only the per-group top-k survivors.

    Determinism: identical discipline to ``knn_pq_adc`` — the LUT
    entries and candidate sums are the same exact int64 integers the
    oracle folds as BIGINTs, ranking is (s ASC, neighbor_id ASC)
    in-kernel via threshold + lexsort and in the merge window;
    ``adc_dist2`` is one IEEE division for display.
    """
    from .similarity import _ivf_ncells, ivf_cells

    vecs = _vectors(t)
    score = _adc_score(_codebook_matrix(_shared_codebook(spark, vecs)))
    cells = ivf_cells(spark, t)
    corpus = _shared_packed_codes(spark, t).join(
        cells.withColumnRenamed("cell", "key"), "vec_id"
    )
    # rename the query side's join product (both sides read the SAME
    # persisted ``cells`` frame — an unqualified reference would be an
    # ambiguous self-join).
    q_cells = cells.select(
        F.col("vec_id").alias("query_id"), F.col("cell").alias("key")
    )
    qs = (
        vecs.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(F.col("vec_id").alias("query_id"), "u")
        .join(q_cells, "query_id")
    )
    return _adc_topk(
        salted_topk_scan(t, corpus, qs, _ivf_ncells(spark, t), TOP_K, score, "long")
    )
