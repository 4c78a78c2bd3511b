"""North-star similarity search over the ``embeddings`` table.

Three operators, baseline -> scale path:

- brute-force:  broadcast the (small) query set against the full
                corpus, exact cosine, per-query top-k via window.
                O(|Q| * N) — the correctness baseline and the right
                plan whenever |Q| is broadcast-sized.
- LSH buckets:  deterministic random-hyperplane sign bits, CORPUS-
                SCALED width (#buckets = sqrt_pow2(N) — the √N
                balance between assignment and candidate cost);
                search only the query's bucket (single probe).
                Candidate generation becomes an equi-join on the
                bucket key — partition-prunable and shuffle-bounded
                at 100 TB, with per-bucket occupancy ~√N so the
                candidate term is O(N^1.5), not N²/constant.
                Approximate by design: recall loss is the documented
                trade.
- IVF by label: the `label` column plays the coarse quantizer role of
                an IVF index (cells = labels); search is confined to
                the query's cell via an equi-join.  Same plan shape
                as a trained k-means IVF — only the assignment
                differs.  (The trained variant, ``knn_ivf_kmeans``,
                scales its cell count with the corpus.)

The hyperplanes are generated in Python (LCG parity -> ±1) and
embedded as literal arrays in BOTH the Spark expression and the
DuckDB oracle, so parity is by construction.  Cosine ranking happens
on raw doubles (identical left-fold order in both engines); only the
emitted value is rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import memo, persist_tracked
from ..functions.hyperplane import (  # registry-free shared primitives
    DIM,
    DOT_D as _DOT_D,
    DOT_S as _DOT_S,
    IDOT_D as _IDOT_D,
    MICRO_D as _MICRO_D,
    broadcast_if_small,
    exact_idot_matmul,
    full_bucket_expr_duck,
    pow2_grid_cte,
    scaled_bucket_expr_spark,
    sqrt_pow2,
)
from ..plans.registry import REGISTRY
from ..plans.registry import registered_query as _q
from .pairscan import PAIR_GROUP_TARGET, PAIR_MAX_BUCKETS

TOP_K = 5
QUERY_MOD = 50  # vec_id % 50 == 0 -> deterministic query set (~2% of corpus)
#: Brute-force query-set cap: vec_id < QUERY_MOD * 32 limits the EXACT
#: baseline to a fixed-size (<=32) deterministic sample, so its
#: O(|Q| x N) contract is linear in corpus size at any scale.  The
#: bucketed variants keep the corpus-proportional query set — their
#: equi-join candidate generation is the scale path.
QUERY_CAP = QUERY_MOD * 32


#: Upper grid bound for the learned IVF quantizer: #cells <= 2^12.
#: Caps the broadcast centroid table at 4096 x DIM doubles (~2 MB) and
#: the N x #cells assignment fan-out; √N reaches this cap at N = 2^24
#: vectors — beyond that, raise alongside a cell-parallel assignment.
IVF_MAX_BITS = 12

def corpus_count(spark, emb: DataFrame) -> int:
    """Corpus cardinality for quantizer sizing (memoized per
    session/plan: the coarse-quantizer width is a function of ONE
    cheap count per corpus, not one per query build).

    Makes every consumer CONTRACTUALLY EAGER on first use (see
    plans/registry.py QuerySpec): parquet count(*) is satisfied from
    row-group metadata, so this stays cheap at any corpus size.
    """
    return memo("corpus_count", emb, emb.count)


def lsh_nbuckets(spark, t) -> int:
    """#buckets = sqrt_pow2(N) for the candidate-generation LSH paths."""
    return sqrt_pow2(corpus_count(spark, t["embeddings"]))


def _ivf_ncells(spark, t) -> int:
    return sqrt_pow2(corpus_count(spark, t["embeddings"]), 2, IVF_MAX_BITS)


def _vectors(t) -> DataFrame:
    # squared norm computed once per vector; every pair then needs a
    # single dot product (sqrt(q.n2*c.n2) equals the oracle's per-pair
    # norm arithmetic exactly).
    return t["embeddings"].select(
        "vec_id", "label", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    ).withColumn("n2", F.expr(_DOT_S.format(a="v", b="v")))


def _cos_s() -> F.Column:
    # built lazily: module import must not touch the SparkContext
    # (Python workers re-import this module when unpickling UDFs).
    return F.expr(f"{_DOT_S.format(a='q.v', b='c.v')} / sqrt(q.n2 * c.n2)")


def _topk(scored: DataFrame) -> DataFrame:
    """Per-query top-k with a deterministic tie-break (id asc)."""
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


_COS_D = (
    f"{_DOT_D.format(a='q.v', b='c.v')}"
    f" / sqrt({_DOT_D.format(a='q.v', b='q.v')} * {_DOT_D.format(a='c.v', b='c.v')})"
)

#: exact-integer pairwise cosine (DuckDB spelling): micro-unit BIGINT
#: dots cast to DOUBLE once, one multiply, one sqrt, one divide — every
#: op correctly-rounded IEEE over identical integers on both engines,
#: so a kernel's int64 matmul reproduces it bit-for-bit (the same
#: contract as ``assign_to_centroids`` / the PQ LUT kernels).  The
#: family-wide scoring contract of the kNN variants the recall tests
#: compare against each other.
_COS_INT_D = (
    f"CAST({_IDOT_D.format(a='q.uv', b='c.uv')} AS DOUBLE)"
    f" / sqrt(CAST({_IDOT_D.format(a='q.uv', b='q.uv')} AS DOUBLE)"
    f" * CAST({_IDOT_D.format(a='c.uv', b='c.uv')} AS DOUBLE))"
)

_ORACLE_TAIL = f"""
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
           round(cos, 6) AS cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {TOP_K}
"""

#: shared corpus CTE: raw double vectors for the exact paths plus the
#: one-shot micro-unit quantization ``uv`` the integer-cosine kernels
#: and their oracles (``_COS_INT_D``) score on.
_VEC_CTE = """
    v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                 {micro} AS uv
          FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id % {mod} = 0)
""".format(
    mod=QUERY_MOD, micro=_MICRO_D.format(v="CAST(embedding AS DOUBLE[])")
)


@_q(
    "knn_bruteforce_cosine",
    "north-star: exact cosine top-k (fixed-size broadcast query sample x "
    "full corpus — linear in N)",
    f"""
    WITH {_VEC_CTE},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS_INT_D} AS cos
        FROM q JOIN v c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {QUERY_CAP}
    )
    {_ORACLE_TAIL}
    """,
)
def _knn_bruteforce(spark, t):
    # Exact baseline with an HONEST contract at any scale: the query
    # set is a fixed-size deterministic sample (vec_id % QUERY_MOD == 0
    # AND vec_id < QUERY_CAP -> <=32 queries), so the nested-loop scan
    # is O(32 x N) — linear in corpus size — and the query side is
    # broadcast-sized by construction, no measured count needed (the
    # build stays a lazy plan).  The bucketed LSH/IVF variants handle
    # corpus-proportional query sets.  Scores follow the family-wide
    # ``_COS_INT_D`` integer contract (micro-unit BIGINT folds, one
    # IEEE divide/sqrt) so the domination bound "approximate <= exact"
    # the recall tests assert compares IDENTICAL arithmetic — a raw-
    # double baseline would sit +-1e-6 off the quantized variants.
    from ..functions.hyperplane import IDOT_S, MICRO_S

    vecs = _vectors(t).withColumn("uv", F.expr(MICRO_S.format(v="v")))
    q = vecs.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    )
    q_side = broadcast_if_small(
        q.alias("q"), QUERY_CAP // QUERY_MOD, row_bytes=8 * DIM + 100
    )
    cos_int = F.expr(
        f"CAST({IDOT_S.format(a='q.uv', b='c.uv')} AS DOUBLE)"
        f" / sqrt(CAST({IDOT_S.format(a='q.uv', b='q.uv')} AS DOUBLE)"
        f" * CAST({IDOT_S.format(a='c.uv', b='c.uv')} AS DOUBLE))"
    )
    scored = (
        q_side
        .join(vecs.alias("c"), F.col("c.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            cos_int.alias("cos"),
        )
    )
    return _topk(scored)


#: skew headroom of the search scans' salt width: it is sized for a
#: group holding this many times the mean occupancy (near-dup
#: lattices concentrate mass) without paying a per-group count job.
SEARCH_SKEW_ALLOWANCE = 16


def _nsalt_for_occupancy(hot: int) -> int:
    """Salt width for a hottest-group occupancy of ``hot`` members: the
    smallest power of two that splits it into groups of at most
    ``PAIR_GROUP_TARGET``, capped at ``PAIR_MAX_BUCKETS`` — the Python
    twin of pairscan's pairs-mode CASE chain, on the same constants.
    N = 1e9 -> 4096 cells (IVF_MAX_BITS cap) -> 3.9M skewed occupancy
    -> 64 salts."""
    nsalt = 1
    while hot / nsalt > PAIR_GROUP_TARGET and nsalt < PAIR_MAX_BUCKETS:
        nsalt *= 2
    return nsalt


def salted_topk_scan(
    t, corpus: DataFrame, qs: DataFrame, groups: int, depth: int, score,
    score_type: str,
) -> DataFrame:
    """(query_id, neighbor_id, s): each query's local top-``depth``
    members per (key, salt) group — the one search scan of the
    bucket-confined kNN searches, whatever confines their candidates
    (a hyperplane bucket, a learned IVF cell).  The local-top-k-then-
    merge shape of distributed top-k search.

    ``corpus``: (vec_id, key, member payload) over ``groups`` keys;
    ``qs``: (query_id, key, query payload).  ``score(members,
    queries)`` scores one chunk of a group's queries against all of
    its members as a (queries x members) array, lower is better;
    ``score_type`` is its Spark type.

    Salting: each group's members split ``vec_id % nsalt`` and every
    query is replicated across its group's salts, so no task holds a
    whole skewed bucket.  The width comes from the session-cached
    corpus count and ``groups`` (``_nsalt_for_occupancy`` of
    SEARCH_SKEW_ALLOWANCE x the mean occupancy).  Both salt columns
    are INT: an INT and a BIGINT salt of equal value hash to different
    shuffle partitions, so their groups would only meet where AQE
    happens to coalesce the shuffle into one partition.

    Per group, queries are scored 256 at a time; each keeps its
    boundary ties (a slack threshold at the depth+1 smallest score),
    drops itself, and is truncated after an exact (s, neighbor_id)
    lexsort.  Top-k is thereby distributive over any salt partition
    of the candidate set: the caller's merge window ranks |q| x nsalt
    x depth slim rows into the global answer at every width
    (tests/test_salt_invariance.py).
    """
    n = corpus_count(corpus.sparkSession, t["embeddings"])
    nsalt = _nsalt_for_occupancy(
        max(1, n // max(1, groups)) * SEARCH_SKEW_ALLOWANCE
    )
    corpus = corpus.withColumn("salt", (F.col("vec_id") % nsalt).cast("int"))
    qs = qs.withColumn("salt", F.explode(F.expr(f"sequence(0, {nsalt - 1})")))
    dtype = {"double": "float64", "long": "int64"}[score_type]

    def kernel(members, queries):
        import numpy as np
        import pandas as pd

        out_q, out_n, out_s = [], [], []
        nid = members["vec_id"].to_numpy()
        qid = queries["query_id"].to_numpy()
        nq = len(qid) if len(nid) else 0  # a member-less group scores nothing
        kth = min(depth, len(nid) - 1)
        for lo in range(0, nq, 256):
            S = score(members, queries.iloc[lo : lo + 256])
            for qi in range(lo, min(lo + 256, nq)):
                s = S[qi - lo]
                thresh = np.partition(s, kth)[kth]
                cand_ix = np.flatnonzero((s <= thresh) & (nid != qid[qi]))
                take = cand_ix[np.lexsort((nid[cand_ix], s[cand_ix]))][:depth]
                out_q.extend([qid[qi]] * len(take))
                out_n.extend(nid[take])
                out_s.extend(s[take])
        return pd.DataFrame(
            {
                "query_id": np.asarray(out_q, dtype=np.int64),
                "neighbor_id": np.asarray(out_n, dtype=np.int64),
                "s": np.asarray(out_s, dtype=dtype),
            }
        )

    return (
        corpus.groupby("key", "salt")
        .cogroup(qs.groupby("key", "salt"))
        .applyInPandas(
            kernel, f"query_id long, neighbor_id long, s {score_type}"
        )
    )


def _micro(vs):
    """int64 micro-units of a column of double vectors."""
    import numpy as np

    return np.floor(
        np.stack(vs.to_numpy()).astype(np.float64) * 1e6 + 0.5
    ).astype(np.int64)


def _neg_cos(members, queries):
    """``-cos`` under the ``_COS_INT_D`` integer contract: micro-unit
    int64 dots (exact matmul), then double / sqrt(double * double) —
    the correctly-rounded IEEE ops of the oracle over the same
    integers."""
    import numpy as np

    Uc, Uq = _micro(members["v"]), _micro(queries["qv"])
    nc2 = (Uc * Uc).sum(axis=1).astype(np.float64)
    nq2 = (Uq * Uq).sum(axis=1).astype(np.float64)
    return -(exact_idot_matmul(Uq, Uc) / np.sqrt(nq2[:, None] * nc2[None, :]))


def _cos_scan_topk(t, corpus: DataFrame, qs: DataFrame, groups: int) -> DataFrame:
    """The cosine searches' tail: ``salted_topk_scan`` with the
    ``_neg_cos`` scorer, its score negated back to ``cos`` (exact),
    then the ``_topk`` merge window.  ``corpus``: (vec_id, key, v);
    ``qs``: (query_id, key, qv)."""
    scored = salted_topk_scan(t, corpus, qs, groups, TOP_K, _neg_cos, "double")
    return _topk(
        scored.select("query_id", "neighbor_id", (-F.col("s")).alias("cos"))
    )


@_q(
    "knn_lsh_hyperplane",
    "north-star: ANN via corpus-scaled random-hyperplane LSH buckets "
    "(#buckets = sqrt_pow2(N), single probe, per-bucket kernel scan)",
    f"""
    WITH {_VEC_CTE},
    {pow2_grid_cte("lsh_params")},
    vb AS (SELECT v.*, ({full_bucket_expr_duck('v')}) % p.nb AS bucket
           FROM v, lsh_params p),
    qb AS (SELECT * FROM vb WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS_INT_D} AS cos
        FROM qb q JOIN vb c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    {_ORACLE_TAIL}
    """,
)
def _knn_lsh(spark, t):
    """Single-probe hyperplane LSH as a salted per-bucket kernel scan.

    The bucket count tracks the corpus (#buckets = sqrt_pow2(N), a
    cached count + pow2 grid): a fixed 256-bucket key gave per-bucket
    occupancy N/256 and hence an N²/256 candidate term — the measured
    super-linear decade (r7 SURVEY §8); √N buckets make candidates
    O(N^1.5) with recall traded transparently (the oracle masks the
    SAME planes).

    Scale shape: the previous bucket equi-join evaluated one
    INTERPRETED 64-dim ``aggregate(zip_with(...))`` fold per candidate
    pair and shuffled every scored pair into a global ranking window —
    measured 506 s cold at sf25 (10M candidate pairs).  Here the
    search runs through ``salted_topk_scan``: each (bucket, salt) group
    cogroups its members with the bucket's queries, scores them with
    ONE exact int64 matmul, and emits only each query's local top-k;
    the ``_topk`` window merges |q| x nsalt x TOP_K slim rows.  Hot
    buckets are salt-split on the member side, and the result is
    identical at any salt width.

    Determinism: vectors are micro-unit quantized once; dots and
    norms are exact int64 (|u| <= ~1.2e7 and DIM = 64 keep every term
    below 2^60, asserted in-kernel); cosine is CAST-to-double /
    sqrt(double * double) — the identical correctly-rounded IEEE op
    sequence as the oracle's ``_COS_INT_D``, so both engines rank the
    same doubles.  Per-group truncation keeps boundary ties, matching
    the window's (cos DESC, neighbor_id ASC) order.
    """
    nb = lsh_nbuckets(spark, t)
    vecs = _vectors(t).withColumn("key", scaled_bucket_expr_spark("v", nb))
    qs = vecs.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "key", F.col("v").alias("qv")
    )
    return _cos_scan_topk(t, vecs.select("vec_id", "key", "v"), qs, nb)


#: fixed chunk width (by vec_id range) for the two-phase centroid fold.
#: Bounds every grouped-map task to <= CENTROID_CHUNK rows regardless of
#: label cardinality or corpus size — the one-task-per-label shape the
#: naive groupBy("label") grouped map degenerates to at 100 TB.
CENTROID_CHUNK = 1024


def _chunk_fold_pdf(key: str):
    """Phase-1 kernel factory: per (key, chunk) partial sums.  Rows
    sorted by vec_id, sequential accumulation — a deterministic left
    fold the DuckDB oracle reproduces exactly (numpy's pairwise
    summation would NOT).  ``key`` is the grouping column ("label" for
    the static centroid, "cell" for Lloyd rounds)."""

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        # cumsum is sequential by definition, so its last row IS the
        # left fold (0 + r0) + r1 + ... at C speed (numpy's sum() would
        # pairwise-reorder and break oracle bit-parity).
        acc = mat.cumsum(axis=0)[-1]
        return pd.DataFrame(
            {
                key: pdf[key].iloc[0],
                "chunk": pdf["chunk"].iloc[0],
                "dim": range(mat.shape[1]),
                "s": acc,
                "n": mat.shape[0],
            }
        )

    return kernel


def _fold_centroids(emb_with_key: DataFrame, key: str) -> DataFrame:
    """Two-phase deterministic chunked centroid fold, keyed by ``key``.

    Phase 1 reduces fixed vec_id-range chunks (task memory bounded at
    any scale); phase 2 combines per-chunk partials in chunk order,
    JVM-side (array_sort + F.aggregate inside codegen).  The chunked
    summation tree is part of the operator contract — oracles compute
    the same (((c0)+c1)+c2) ordering, so parity stays bit-exact."""
    chunked = emb_with_key.withColumn("chunk", F.expr(f"vec_id div {CENTROID_CHUNK}"))
    partials = chunked.groupBy(key, "chunk").applyInPandas(
        _chunk_fold_pdf(key), f"{key} int, chunk long, dim int, s double, n long"
    )
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct("chunk", "s"))),
        F.lit(0.0),
        lambda a, x: a + x["s"],
    )
    return (
        partials.groupBy(key, "dim")
        .agg(folded.alias("folded"), F.sum("n").alias("n_vecs"))
        .select(
            key,
            "dim",
            F.round(F.col("folded") / F.col("n_vecs"), 6).alias("centroid"),
            "n_vecs",
        )
    )


@_q(
    "embedding_label_centroid",
    "north-star: two-phase applyInPandas aggregation (chunked deterministic fold)",
    f"""
    WITH per_chunk AS (
        SELECT label, vec_id // {CENTROID_CHUNK} AS chunk, j,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(CAST(embedding[j + 1] AS DOUBLE) ORDER BY vec_id)),
                   (a, x) -> a + x) AS s,
               count(*) AS n
        FROM embeddings, (SELECT unnest(range(0, {DIM})) AS j)
        GROUP BY label, chunk, j
    )
    SELECT label, CAST(j AS INTEGER) AS dim,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list(s ORDER BY chunk)), (a, x) -> a + x)
                 / CAST(sum(n) AS DOUBLE), 6) AS centroid,
           CAST(sum(n) AS BIGINT) AS n_vecs
    FROM per_chunk GROUP BY label, j
    """,
)
def _label_centroid(spark, t):
    # See _fold_centroids: label is the static key (one fold, no
    # iteration); kmeans_lloyd_centroids below reuses the same fold
    # with the evolving cell assignment as the key.
    return _fold_centroids(t["embeddings"], key="label")


@_q(
    "knn_ivf_label",
    "north-star: IVF-style cell-restricted search (label as coarse quantizer)",
    f"""
    WITH {_VEC_CTE},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS_INT_D} AS cos
        FROM q JOIN v c ON c.label = q.label AND c.vec_id <> q.vec_id
    )
    {_ORACLE_TAIL}
    """,
)
def _knn_ivf(spark, t):
    # No broadcast hint — label is the equi-join cell key; the family-
    # wide _COS_INT_D integer scoring keeps this variant comparable to
    # the kernelized ones in the recall-domination tests.  The scale
    # ceiling here is label cardinality itself (occupancy N/#labels) —
    # documented as the reason the LEARNED quantizer variant exists.
    from ..functions.hyperplane import IDOT_S, MICRO_S

    vecs = _vectors(t).withColumn("uv", F.expr(MICRO_S.format(v="v")))
    q = vecs.filter(F.col("vec_id") % QUERY_MOD == 0)
    cos_int = F.expr(
        f"CAST({IDOT_S.format(a='q.uv', b='c.uv')} AS DOUBLE)"
        f" / sqrt(CAST({IDOT_S.format(a='q.uv', b='q.uv')} AS DOUBLE)"
        f" * CAST({IDOT_S.format(a='c.uv', b='c.uv')} AS DOUBLE))"
    )
    scored = (
        q.alias("q")
        .join(
            vecs.alias("c"),
            (F.col("c.label") == F.col("q.label"))
            & (F.col("c.vec_id") != F.col("q.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            cos_int.alias("cos"),
        )
    )
    return _topk(scored)


def ivf_assign_cte() -> str:
    """CTE fragment ``ivf_params .. assign`` deriving the learned
    coarse-quantizer cell per vector over an existing
    ``v(vec_id, v, ...)`` CTE — shared by the ``knn_ivf_kmeans`` oracle
    and the IVF-PQ composition in ``operators/pq.py`` (whose ``v``
    carries extra columns; only ``vec_id`` and ``v`` are referenced
    here).  ``cent_ivf`` naming avoids colliding with the PQ codebook's
    ``cent``.

    The quantizer is CORPUS-SCALED: #cells = sqrt_pow2(N) (ivf_params),
    cells seeded by ``vec_id % #cells``, centroids trained with the
    same chunked deterministic fold as ``embedding_label_centroid``,
    then every vector assigned to its nearest centroid.

    Scoring mirrors the matmul kernel of ``assign_to_centroids``:
    EXACT INTEGER micro-unit dots (vector and 6-dp centroid each
    quantized once), score = idot(u_v, u_c) / sqrt(idot(u_c, u_c)) —
    the per-vector norm is a positive constant omitted from the
    argmax.  Integer folds are order-independent, so the engines
    cannot disagree however either one parallelizes.
    """
    from ..functions.hyperplane import IDOT_D, MICRO_D

    dot_vc = IDOT_D.format(a="v.uv", b="ct.ucv")
    dot_cc = IDOT_D.format(a="ct.ucv", b="ct.ucv")
    return f"""
    {pow2_grid_cte("ivf_params", hi_bits=IVF_MAX_BITS)},
    ivf_seeded AS (
        SELECT e.vec_id, e.embedding,
               CAST(e.vec_id % p.nb AS INTEGER) AS scell
        FROM embeddings e, ivf_params p
    ),
    ivf_chunk AS (
        SELECT scell, vec_id // {CENTROID_CHUNK} AS chunk, j,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(CAST(embedding[j + 1] AS DOUBLE) ORDER BY vec_id)),
                   (a, x) -> a + x) AS s,
               count(*) AS n
        FROM ivf_seeded, (SELECT unnest(range(0, {DIM})) AS j)
        GROUP BY scell, chunk, j
    ),
    cent_ivf AS (
        SELECT scell, CAST(j AS INTEGER) AS dim,
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list(s ORDER BY chunk)), (a, x) -> a + x)
                     / CAST(sum(n) AS DOUBLE), 6) AS centroid
        FROM ivf_chunk GROUP BY scell, j
    ),
    cvec AS (
        SELECT scell AS c_label, list(centroid ORDER BY dim) AS cv
        FROM cent_ivf GROUP BY scell
    ),
    cvec_u AS (
        SELECT c_label, {MICRO_D.format(v="cv")} AS ucv FROM cvec
    ),
    v_u AS (
        SELECT vec_id, {MICRO_D.format(v="v.v")} AS uv FROM v
    ),
    pairs AS (
        SELECT v.vec_id, ct.c_label,
               CAST({dot_vc} AS DOUBLE)
                   / sqrt(CAST({dot_cc} AS DOUBLE)) AS cos_c
        FROM v_u v CROSS JOIN cvec_u ct
    ),
    assign AS (
        SELECT vec_id, c_label AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos_c DESC, c_label) AS rn
            FROM pairs
        ) WHERE rn = 1
    )"""


def centroid_vectors(cent_rows: DataFrame, key: str) -> DataFrame:
    """(<key>, cv, cn2): long-form (key, dim, centroid) rows folded to
    dim-ordered centroid vectors with their squared norms — the
    broadcast side of every nearest-centroid assignment."""
    return (
        cent_rows.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("dc"))
        .select(
            F.col(key).alias("c_key"),
            F.expr("transform(dc, x -> x.centroid)").alias("cv"),
        )
        .withColumn("cn2", F.expr(_DOT_S.format(a="cv", b="cv")))
    )


#: chunk of centroid columns scored at once inside the assignment
#: kernel — bounds the per-batch score matrix to
#: |arrow batch| x _ASSIGN_CHUNK doubles regardless of #cells.
_ASSIGN_CHUNK = 512


def assign_to_centroids(
    vecs: DataFrame, cvec: DataFrame, prepartitioned: bool = False
) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, lowest key as the
    deterministic tie-break — THE assignment kernel, shared by
    ``ivf_cells``, SemDeDup and the embedding-cosine dedup blocking so
    the paths can never drift apart semantically.

    EXACT-INTEGER SCORING AT MATMUL SPEED.  Vectors and (already
    6-dp-rounded) centroids are quantized once to micro-units; the
    assignment score is ``idot(u_v, u_c) / sqrt(idot(u_c, u_c))`` —
    the per-vector norm is a positive constant that cannot change the
    argmax, so it is omitted.  The integer dots are computed as a
    float64 MATMUL: every product (≤1e12 at |v|<12) and every 64-term
    partial sum (≤6.4e13) stays far below 2^53, so float64 arithmetic
    on them is EXACT and therefore summation-order-independent —
    BLAS-speed with bit-for-bit integer semantics, mirrored by the
    oracle's BIGINT list folds (``ivf_assign_cte``).  The division and
    sqrt are single correctly-rounded IEEE ops over identical
    integers, identical on both engines.  The per-row HOF-expression
    form this replaces evaluated one interpreted 64-dim fold per
    (vector, cell) — measured 628 s for the sf25 assignment
    (500k x 512 cells) vs seconds for the matmul kernel.

    Scale shape: the centroid matrix is a bounded (≤2^IVF_MAX_BITS
    x DIM) task-local broadcast; the kernel is Arrow-batched
    mapInPandas, embarrassingly parallel over the corpus scan, scored
    in _ASSIGN_CHUNK-column chunks with a strict-> running best so
    ties keep the LOWEST cell (matching the oracle's ORDER BY score
    DESC, cell ASC).  The corpus is hash-repartitioned to full
    parallelism first — a small parquet's few scan partitions would
    serialize the kernel (same remedy as the PQ encode).
    """
    spark = vecs.sparkSession
    cent_rows = sorted(
        (r["c_key"], list(r["cv"])) for r in cvec.select("c_key", "cv").collect()
    )
    bc = spark.sparkContext.broadcast(cent_rows)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        rows = bc.value
        keys = np.array([k for k, _ in rows], dtype=np.int64)
        C = np.floor(
            np.array([cv for _, cv in rows], dtype=np.float64) * 1e6 + 0.5
        )
        cn = np.sqrt((C * C).sum(axis=1))  # exact ints -> exact sqrt input
        cmax = np.abs(C).max(initial=1.0)
        # A zero-norm centroid scores 0/0 for EVERY vector: NaN here,
        # NULL in the DuckDB oracle (division by zero yields NULL —
        # probed directly on the gate's duckdb, r13), and the oracle's
        # ORDER BY score DESC puts NULLs LAST — so zero-norm centroids
        # can never win while any real score exists.  numpy is the
        # side that would diverge (np.argmax treats NaN as the max,
        # poisoning every _ASSIGN_CHUNK containing a zero-norm
        # column), so EXCLUDE zero-norm centroids from the scan; when
        # ALL centroids are zero-norm every oracle score is NULL and
        # rn = 1 falls to the lowest cell (keys are sorted ascending).
        # Pinned by tests/test_quantize_kmeans.py against the literal
        # oracle ordering.
        nz = np.flatnonzero(cn != 0.0)
        all_zero_cell = np.int32(keys[0]) if len(nz) == 0 else None
        keys, C, cn = keys[nz], C[nz], cn[nz]
        for pdf in batches:
            if all_zero_cell is not None:
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "cell": np.full(
                            len(pdf), all_zero_cell, dtype=np.int32
                        ),
                    }
                )
                continue
            U = np.floor(
                np.stack(pdf["v"].to_numpy()).astype(np.float64) * 1e6 + 0.5
            )
            # Exactness contract, enforced: every u·c product and every
            # DIM-term partial sum must stay below 2^53 for the float64
            # matmul to equal the oracle's BIGINT fold.  Fail loudly on
            # a corpus that breaks the documented magnitude bound.
            if np.abs(U).max(initial=0.0) * cmax * DIM >= 2.0**53:
                raise ValueError(
                    "assign_to_centroids: |u|*|c|*DIM exceeds the 2^53 "
                    "exact-integer float64 headroom; assignment would "
                    "diverge from the BIGINT oracle"
                )
            best = np.full(len(U), -np.inf)
            best_ix = np.zeros(len(U), dtype=np.int64)
            for lo in range(0, len(keys), _ASSIGN_CHUNK):
                Cc = C[lo : lo + _ASSIGN_CHUNK]
                score = (U @ Cc.T) / cn[lo : lo + _ASSIGN_CHUNK][None, :]
                ix = np.argmax(score, axis=1)  # first max = lowest cell
                sc = score[np.arange(len(U)), ix]
                better = sc > best  # strict: earlier chunk wins ties
                best[better] = sc[better]
                best_ix[better] = ix[better] + lo
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": keys[best_ix].astype("int32")}
            )

    # The corpus is hash-repartitioned to full parallelism first — a
    # small parquet's few scan partitions would serialize the kernel
    # (same remedy as the PQ encode).  An ITERATIVE caller that feeds
    # an already-repartitioned (ideally persisted) frame passes
    # ``prepartitioned=True`` to skip re-exchanging the corpus every
    # round — the rows, not their placement, determine the output.
    src = vecs.select("vec_id", "v")
    if not prepartitioned:
        src = src.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    return src.mapInPandas(kernel, "vec_id long, cell int")


def ivf_quantizer(spark, t) -> DataFrame:
    """``cvec`` (c_key, cv, cn2): the TRAINED corpus-scaled coarse
    quantizer, served as a materialized per-session artifact.

    #cells = sqrt_pow2(N) (the Faiss √N guideline on a power-of-two
    grid): a fixed cell count left an N²/#cells candidate term — the
    one measured super-linear decade in r7's SURVEY §8.  Cells are
    seeded ``vec_id % #cells`` (deterministic, engine-independent) and
    centroids trained by the chunked deterministic fold.

    ONE quantizer serves the whole cell-confined family —
    ``knn_ivf_kmeans``, the IVF-PQ composition, and SemDeDup — so the
    cluster geometry can never drift between search and dedup.  The
    table is ≤ 2^IVF_MAX_BITS rows (bounded at any corpus size), so it
    follows the PQ-codebook artifact discipline: first use per
    (session, corpus plan) trains and collects; later uses replay the
    local relation (CONTRACTUALLY EAGER, see plans/registry.py
    QuerySpec).  Since r12 the artifact also persists to disk under
    the warehouse dir (``artifacts.load_or_train``): a fresh session
    LOADS instead of retraining — the production train-once/serve-many
    shape, and the fix for the r11 decade table charging one session's
    first kernel-scan query the whole training bill.
    """
    from ..artifacts import load_or_train

    emb = t["embeddings"]

    def train():
        k = _ivf_ncells(spark, t)
        seeded = emb.select(
            "vec_id",
            "embedding",
            (F.col("vec_id") % k).cast("int").alias("scell"),
        )
        return centroid_vectors(_fold_centroids(seeded, key="scell"), "scell")

    return memo(
        "ivf_quantizer",
        emb,
        lambda: load_or_train(
            spark,
            "ivf_quantizer",
            emb,
            "c_key int, cv array<double>, cn2 double",
            train,
            ["c_key"],
        ),
    )


def ivf_cells(spark, t) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment under the shared
    corpus-scaled quantizer — shared by ``knn_ivf_kmeans`` and the
    IVF-PQ composition.  Persisted: both sides of a cell-confined
    search join read it."""
    return persist_tracked(
        assign_to_centroids(_vectors(t), ivf_quantizer(spark, t))
    )


def _ivf_kmeans_oracle() -> str:
    return f"""
    WITH {_VEC_CTE},
    {ivf_assign_cte()},
    cand AS (SELECT v.*, a.cell FROM v JOIN assign a USING (vec_id)),
    qc AS (SELECT * FROM cand WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS_INT_D} AS cos
        FROM qc q JOIN cand c ON c.cell = q.cell AND c.vec_id <> q.vec_id
    )
    {_ORACLE_TAIL}
    """


@_q(
    "knn_ivf_kmeans",
    "north-star: IVF with a LEARNED coarse quantizer (deterministic centroids, "
    "nearest-centroid assignment, cell-confined search)",
    _ivf_kmeans_oracle(),
)
def _knn_ivf_kmeans(spark, t):
    # The full IVF construction: (1) train the quantizer — #cells =
    # sqrt_pow2(N) seed cells (vec_id % #cells), centroids via the
    # chunked deterministic fold; (2) assign EVERY vector to its
    # nearest centroid by cosine; (3) search only the query's cell.
    #
    # Scale shape: the centroid table is #cells = √N rows on a pow2
    # grid — broadcastable at any data size under IVF_MAX_BITS (~2 MB
    # at the cap); assignment is the exact-integer matmul kernel
    # (assign_to_centroids).  Search is the salted per-(cell, salt)
    # scan (salted_topk_scan): per-cell occupancy N/√N = √N keeps
    # candidates O(N^1.5 / QUERY_MOD) — instead of the N²/#cells a
    # fixed quantizer measured in r7 — and the kernel scores each cell
    # with one exact int64 matmul where the previous equi-join form
    # paid an interpreted 64-dim fold per pair plus a global ranking
    # window.  A production IVF iterates Lloyd steps; one
    # deterministic step keeps the oracle exact while exercising the
    # identical plan.
    cand = _vectors(t).join(ivf_cells(spark, t), "vec_id")
    corpus = cand.select("vec_id", F.col("cell").alias("key"), "v")
    qs = cand.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell").alias("key"),
        F.col("v").alias("qv"),
    )
    return _cos_scan_topk(t, corpus, qs, _ivf_ncells(spark, t))


def _multiprobe_oracle() -> str:
    # STATIC text over a data-derived plane count: probes enumerate all
    # MAX_PLANES single-bit flips, filtered to the bits the corpus-
    # scaled bucket actually uses ((1 << pb) < nb); pb = -1 is the
    # identity probe.  Flipping only in-width bits keeps every probe
    # distinct, so no candidate pair is double-counted.
    from ..functions.hyperplane import MAX_PLANES

    return f"""
    WITH {_VEC_CTE},
    {pow2_grid_cte("lsh_params")},
    vb AS (SELECT v.*, ({full_bucket_expr_duck('v')}) % p.nb AS bucket
           FROM v, lsh_params p),
    qb AS (SELECT * FROM vb WHERE vec_id % {QUERY_MOD} = 0),
    probes AS (
        SELECT q.vec_id, q.uv,
               CASE WHEN g.pb < 0 THEN q.bucket
                    ELSE xor(q.bucket, CAST(1 AS BIGINT) << g.pb) END AS probe
        FROM qb q, (SELECT unnest(range(-1, {MAX_PLANES})) AS pb) g,
             lsh_params p
        WHERE g.pb < 0 OR (CAST(1 AS BIGINT) << g.pb) < p.nb
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS_INT_D} AS cos
        FROM probes q JOIN vb c ON c.bucket = q.probe AND c.vec_id <> q.vec_id
    )
    {_ORACLE_TAIL}
    """


@_q(
    "knn_lsh_multiprobe",
    "north-star: multi-probe hyperplane LSH (query bucket + all hamming-1 "
    "neighbors over the corpus-scaled bucket width)",
    _multiprobe_oracle(),
)
def _knn_lsh_multiprobe(spark, t):
    # Single-probe LSH misses a true neighbor whenever ANY of the P
    # sign bits disagrees; probing the P hamming-1 buckets too drops
    # the miss condition to >= 2 disagreeing bits, at a (P+1)x fan-out
    # on the QUERY side only — the corpus index is untouched: the
    # probes just replicate each query into more (bucket, salt) kernel
    # groups of the SAME per-bucket scan as single-probe (a neighbor
    # lives in exactly one bucket, so no pair is double-counted).
    # This is the standard recall/latency knob of bucketed ANN at
    # 100 TB: widen probes, never the index.  P tracks the corpus like
    # single-probe (#buckets = sqrt_pow2(N)), so the probe fan-out
    # grows log-slowly (P = log2 #buckets) while candidates stay
    # O(N^1.5 * P).
    nb = lsh_nbuckets(spark, t)
    vecs = _vectors(t).withColumn("key", scaled_bucket_expr_spark("v", nb))
    probe_arr = "array(key, " + ", ".join(
        f"key ^ {1 << i}" for i in range(nb.bit_length() - 1)
    ) + ")"
    qs = vecs.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.expr(probe_arr)).alias("key"),
        F.col("v").alias("qv"),
    )
    return _cos_scan_topk(t, vecs.select("vec_id", "key", "v"), qs, nb)


#: Lloyd refinement rounds after the label-seeded initialization.
#: Fixed (not convergence-tested) so the unrolled oracle below is the
#: exact same computation.
LLOYD_ROUNDS = 2

#: rows per assign-kernel task in the Lloyd loop (docstring in
#: _kmeans_lloyd: occupancy-sized partitioning, r14).
_KMEANS_TASK_ROWS = 16384


def _lloyd_oracle() -> str:
    """Unrolled-CTE oracle for the iterative Lloyd refinement.

    Iterative algorithms have no single-query SQL form in general, but
    a FIXED number of rounds unrolls exactly: one (assign, refold) CTE
    pair per round, each the same text as the one-shot quantizer's
    oracle.  Parity holds round-over-round because every centroid is
    rounded to 6 decimals before the next assignment — both engines
    enter round r+1 with bit-identical inputs.

    Assignment scoring is the family's exact-integer micro-unit
    contract (mirrors ``assign_to_centroids`` / ``ivf_assign_cte``):
    score = idot(u_v, u_c) / sqrt(idot(u_c, u_c)), the per-vector norm
    a positive constant omitted from the argmax.  Integer folds are
    summation-order-independent, so the engines cannot disagree
    however either one parallelizes.
    """
    cent0 = REGISTRY["embedding_label_centroid"].oracle
    dot_vc = _IDOT_D.format(a="v.uv", b="ct.ucv")
    dot_cc = _IDOT_D.format(a="ct.ucv", b="ct.ucv")
    parts = [
        f"cent0 AS (SELECT label AS cell, dim, centroid, n_vecs FROM ({cent0}))",
        _VEC_CTE.strip(),
    ]
    for r in range(LLOYD_ROUNDS):
        parts.append(f"""
    cvec{r} AS (
        SELECT cell, {_MICRO_D.format(v="list(centroid ORDER BY dim)")} AS ucv
        FROM cent{r} GROUP BY cell
    ),
    pairs{r} AS (
        SELECT v.vec_id, ct.cell,
               CAST({dot_vc} AS DOUBLE)
                   / sqrt(CAST({dot_cc} AS DOUBLE)) AS cos_c
        FROM v CROSS JOIN cvec{r} ct
    ),
    assign{r} AS (
        SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos_c DESC, cell) AS rn
            FROM pairs{r}
        ) WHERE rn = 1
    ),
    pc{r} AS (
        SELECT a.cell, e.vec_id // {CENTROID_CHUNK} AS chunk, j,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(CAST(e.embedding[j + 1] AS DOUBLE) ORDER BY e.vec_id)),
                   (acc, x) -> acc + x) AS s,
               count(*) AS n
        FROM embeddings e JOIN assign{r} a USING (vec_id),
             (SELECT unnest(range(0, {DIM})) AS j)
        GROUP BY a.cell, chunk, j
    ),
    cent{r + 1} AS (
        SELECT cell, CAST(j AS INTEGER) AS dim,
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list(s ORDER BY chunk)), (acc, x) -> acc + x)
                     / CAST(sum(n) AS DOUBLE), 6) AS centroid,
               CAST(sum(n) AS BIGINT) AS n_vecs
        FROM pc{r} GROUP BY cell, j
    )""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT cell, dim, centroid, n_vecs FROM cent{LLOYD_ROUNDS}"
    )


@_q(
    "kmeans_lloyd_centroids",
    "north-star: iterative Lloyd k-means refinement (fixed rounds, deterministic "
    "chunked folds; the oracle is the same computation unrolled as CTEs)",
    _lloyd_oracle(),
)
def _kmeans_lloyd(spark, t):
    # The full distributed k-means training loop, each round two
    # scale-correct phases:
    #   assign: the shared exact-integer matmul kernel
    #           (assign_to_centroids) against the FIXED-size centroid
    #           table — the same micro-unit contract the IVF paths
    #           certify, so the interpreted per-(vector, cell) HOF
    #           fold the r12-prior form paid per round is gone;
    #   refold: the two-phase chunked deterministic centroid fold,
    #           keyed by the new cell — task memory bounded by
    #           CENTROID_CHUNK regardless of how hot a cell gets.
    # Each round materializes the BOUNDED centroid table on the driver
    # (assign_to_centroids broadcasts it task-local), so the loop runs
    # one slim job per round instead of stacking an N x #cells
    # interpreted-expression mega-DAG.  Centroids are rounded to 6
    # decimals each round (part of the contract, see _lloyd_oracle),
    # so both engines enter round r+1 with bit-identical inputs and
    # the integer dots cannot disagree.
    # r13 shave: (a) the corpus is repartitioned ONCE and persisted —
    # the per-round repartition inside assign_to_centroids re-exchanged
    # the whole corpus every round (prepartitioned=True skips it; at
    # the fourth decade that is LLOYD_ROUNDS corpus shuffles saved);
    # (b) each round's assignment has exactly ONE consumer (the next
    # fold), so the former per-round persist was a pure
    # cache-materialization tax.
    # r14 shave (the 2.5 s bar): the partition count is OCCUPANCY-
    # SIZED, not a flat defaultParallelism — the loop runs
    # LLOYD_ROUNDS + 2 driver jobs and each one's kernel stage pays
    # per-task worker machinery (Arrow roundtrip, kernel re-entry)
    # that dominates when 20k vectors fan out to 32 tasks of 625 rows.
    # ~16k rows per task keeps every task's matmul a few BLAS calls
    # (64-dim float64 chunk ~8 MB) while small corpora collapse to 1-2
    # tasks; the fourth decade still saturates (2.6M rows -> capped at
    # defaultParallelism).  Values are partition-independent by
    # construction (per-vector argmax; vec_id-keyed chunked fold —
    # tests/test_partitioning_invariance.py), so this is purely a
    # physical choice.
    n = corpus_count(spark, t["embeddings"])
    par = max(
        1,
        min(spark.sparkContext.defaultParallelism, -(-n // _KMEANS_TASK_ROWS)),
    )
    vp = persist_tracked(
        _vectors(t).select("vec_id", "v").repartition(par, "vec_id")
    )
    emb = t["embeddings"].select("vec_id", "embedding")
    cent = _label_centroid(spark, t).withColumnRenamed("label", "cell")
    for _ in range(LLOYD_ROUNDS):
        cvec = (
            cent.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("dc"))
            .select(
                F.col("cell").alias("c_key"),
                F.expr("transform(dc, x -> x.centroid)").alias("cv"),
            )
        )
        assign = assign_to_centroids(vp, cvec, prepartitioned=True)
        cent = _fold_centroids(emb.join(assign, "vec_id"), key="cell")
    return cent


# --- kNN label vote (classification on top of the exact baseline) -----------


@_q(
    "knn_label_vote",
    "north-star: kNN majority-vote classification over the exact top-k "
    "(votes desc, label asc tie-break)",
    f"""
    WITH {_VEC_CTE},
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id, c.label AS neighbor_label, {_COS_D} AS cos
        FROM q JOIN v c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {QUERY_CAP}
    ),
    topk AS (
        SELECT query_id, query_label, neighbor_label
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
        WHERE rank <= {TOP_K}
    ),
    votes AS (
        SELECT query_id, query_label, neighbor_label, count(*) AS votes
        FROM topk GROUP BY query_id, query_label, neighbor_label
    )
    SELECT query_id, CAST(neighbor_label AS INTEGER) AS predicted_label,
           CAST(votes AS BIGINT) AS votes,
           CAST(query_label AS INTEGER) AS query_label,
           neighbor_label = query_label AS label_match
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY votes DESC, neighbor_label) AS vrank
          FROM votes)
    WHERE vrank = 1
    """,
)
def _knn_label_vote(spark, t):
    # kNN-classifier / label-propagation step: majority vote among the
    # exact top-k neighbors' labels, (votes DESC, label ASC) tie-break
    # so the prediction is deterministic.  Reuses the brute-force
    # contract (fixed <=32-query broadcast sample, O(|Q| x N)); the
    # vote itself adds one |Q| x k -> |Q|-row aggregation — free at any
    # scale.  ``label_match`` makes the classifier's agreement with the
    # query's own label part of the certified output.
    vecs = _vectors(t)
    q = vecs.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < QUERY_CAP)
    )
    q_side = broadcast_if_small(
        q.alias("q"), QUERY_CAP // QUERY_MOD, row_bytes=8 * DIM + 100
    )
    scored = (
        q_side
        .join(vecs.alias("c"), F.col("c.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("q.label").alias("query_label"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.col("c.label").alias("neighbor_label"),
            _cos_s().alias("cos"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "query_label", "neighbor_label")
    )
    votes = topk.groupBy("query_id", "query_label", "neighbor_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("neighbor_label").asc()
    )
    return (
        votes.withColumn("vrank", F.row_number().over(wv))
        .filter(F.col("vrank") == 1)
        .select(
            "query_id",
            F.col("neighbor_label").cast("int").alias("predicted_label"),
            F.col("votes").cast("bigint").alias("votes"),
            F.col("query_label").cast("int").alias("query_label"),
            (F.col("neighbor_label") == F.col("query_label")).alias("label_match"),
        )
    )
