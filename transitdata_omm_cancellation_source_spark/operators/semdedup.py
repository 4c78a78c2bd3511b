"""SemDeDup: semantic deduplication confined to LEARNED clusters.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication" — public method): k-means-cluster the
embedding space, then look for near-duplicate pairs ONLY within each
cluster and keep one exemplar per duplicate group.  The cluster stage
is what makes web-scale semantic dedup tractable — the pairwise search
never leaves a cluster, and cluster granularity (k) is the knob that
bounds per-cluster cost as the corpus grows.

Relation to the repo's other embedding dedup
(``dedup_embedding_cosine``): that query blocks on the GIVEN ``label``
column and emits the duplicate PAIR list; this one blocks on clusters
the engine itself LEARNED — the CORPUS-SCALED coarse quantizer shared
with the IVF search paths (``similarity.ivf_quantizer``: #cells =
sqrt_pow2(N), exactly the paper's k-grows-with-corpus prescription) —
and emits the per-vector keep/drop GATE — the artifact a
training-data pipeline actually consumes.

Within a cluster the search is the paper's OWN prescription: the
exact pairwise cosine matrix, computed by Arrow kernels as exact
int64 matmuls — since r13 as the bucket-pair RUN scan
(``operators/pairscan.py``), the fourth shape this stage has worn,
each driven by a measurement: (1) the original LSH-band self-join
materialized every colliding pair through a DISTINCT and two vector
joins; on a duplicate-heavy corpus the per-bucket pair mass is Σocc²
and the shuffled pair list exploded (filled >70 GB of shuffle, DNF at
sf25).  (2) The r10 salted single scan (members replicated per salt,
queries salt-partitioned) fixed that but left the member side at the
cell's whole occupancy — at sf125 one >100x-mean hot cell ground a
~90-minute single-core task (5504 s total), and occupancy-sized salts
OOM'd (recorded negative af151b3).  (3) The r12 bucket-pair cogroup
bounds BOTH task sides by occ/nb — but applyInPandas invokes the
kernel once per GROUP, and the per-group machinery walled the sibling
pairs-mode query at sf125's ~200k groups.  (4) The r13 run scan keeps
the bucket-pair shape and replaces per-group cogroup calls with one
mapInPandas walk per partition over the run-sorted tagged stream.
Exactness vs the banded form is also better: a cos >= tau pair inside
a cluster is found ALWAYS, not only when it collided in a band.

Exemplar rule: SemDeDup keeps a pseudo-random member per duplicate
group; here the KEPT member is the lowest ``vec_id`` (deterministic,
engine-independent) — a documented deviation that changes WHICH
exemplar survives, never HOW MANY.

Scale shape (100 TB): centroids are a fixed-size broadcast (k x DIM
rows, never corpus-proportional); assignment is the shared Arrow
matmul kernel over the corpus scan; the pairwise stage is the
bucket-PAIR (triangle) run scan (``operators/pairscan.py`` — built
after the r11 sf125 measurement showed the salted single-scan shape
grinding one 90-minute task on a >100x-mean hot cell): per cell the
ids split into an occupancy-sized number of buckets and the (lo <=
hi) bucket pairs become the scan units, so BOTH unit sides are
bounded by occ/nb and every unordered pair lands in exactly one unit
— exact by coverage at any nb.  With #cells = sqrt_pow2(N) the total kernel
work is Θ(N^1.5) — the same designed IVF balance point as
``knn_ivf_kmeans``.  No stage is all-pairs across clusters, no pair
list is ever materialized (the kernel emits task-local partial
COUNTS; one slim-row sum assembles the gate), no driver action
beyond the bounded Lloyd convergence counts inherited from the
centroid builder (CONTRACTUALLY EAGER, see plans/registry.py
QuerySpec).

The reference (a cancellation ETL) has no embedding surface; this is
north-star scope per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..plans.registry import registered_query as _q
from .dedup_fuzzy import _COSINE_TAU as SEMDEDUP_TAU  # one shared tau
from .pairscan import micro_unit_col, pair_scan
from .similarity import (
    assign_to_centroids,
    ivf_assign_cte,
    ivf_quantizer,
)


def _semdedup_oracle() -> str:
    from ..functions.hyperplane import IDOT_D

    # ivf_assign_cte trains the corpus-scaled quantizer on the BASE
    # embeddings table and assigns whatever ``v`` is — here the planted
    # corpus — exactly mirroring the Spark side (ivf_quantizer +
    # assign_to_centroids over the planted vectors).  Its ``v_u`` CTE
    # (micro-unit BIGINT vectors) is reused for the pairwise stage, so
    # the verify arithmetic is the family-wide exact-integer cosine
    # contract: BIGINT dots, one CAST-to-DOUBLE each, one sqrt, one
    # divide — the identical correctly-rounded IEEE op sequence the
    # Arrow kernel computes via exact int64 matmul.
    idot_ab = IDOT_D.format(a="a.uv", b="b.uv")
    cos = (
        f"CAST({idot_ab} AS DOUBLE)"
        f" / sqrt(CAST(a.in2 AS DOUBLE) * CAST(b.in2 AS DOUBLE))"
    )
    return f"""
    WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM corpus),
    {ivf_assign_cte()},
    u AS (
        SELECT vu.vec_id, a.cell, vu.uv,
               {IDOT_D.format(a="vu.uv", b="vu.uv")} AS in2
        FROM v_u vu JOIN assign a ON a.vec_id = vu.vec_id
    ),
    hits AS (
        SELECT b.vec_id AS vec_id, count(*) AS n
        FROM u a JOIN u b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {cos} >= {SEMDEDUP_TAU}
        GROUP BY b.vec_id
    )
    SELECT u.vec_id, u.cell,
           CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_lower_dups,
           CASE WHEN hits.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END
               AS semdedup_gate
    FROM u LEFT JOIN hits ON hits.vec_id = u.vec_id
    """


@_q(
    "corpus_semdedup",
    "north-star: SemDeDup — k-means-cluster-confined semantic near-dup "
    "gate over embeddings (learned clusters, per-cluster kernel scan)",
    _semdedup_oracle(),
)
def _semdedup(spark, t):
    # Stage 1 — learned clusters: the SHARED corpus-scaled coarse
    # quantizer (#cells = sqrt_pow2(N), trained on the raw corpus; the
    # planted duplicates below are copies of raw vectors, so training
    # on the raw side only cannot move any assignment they'd land in).
    # SemDeDup's own prescription is cluster count growing with the
    # corpus — a fixed k left the within-cluster pairwise stage
    # quadratic; #cells ∝ √N makes it Θ(N^1.5), the IVF balance
    # point.  Served as a materialized session artifact (the
    # PQ-codebook discipline), and shared with the IVF search paths so
    # cluster geometry cannot drift between search and dedup.
    quantizer = ivf_quantizer(spark, t)
    # Same planted near-dup corpus as dedup_embedding_cosine: every
    # 20th vector re-enters shifted by 1e6, so the gate has real
    # duplicates to find and the two dedup paths stay comparable.
    corpus = t["embeddings"].select("vec_id", "embedding").unionAll(
        t["embeddings"]
        .filter(F.col("vec_id") % 20 == 0)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    vecs = corpus.select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    )
    # Stage 2 — assignment: the SHARED nearest-centroid kernel
    # (similarity.assign_to_centroids — the centroid matrix rides
    # the kernel closure, exact-integer matmul argmax, lowest-cell
    # tie-break), so this gate and the IVF search paths can never
    # drift apart semantically.  Persisted WITH the int32 micro-unit payload
    # (quantized once here, before the persist barrier, so the
    # interpreted HOF never re-evaluates per replicated row — the
    # pipeline_prep lesson): the assigned corpus feeds the occupancy
    # count and both cogroup sides.
    vb = persist_tracked(
        vecs.join(assign_to_centroids(vecs, quantizer), "vec_id").select(
            "vec_id", micro_unit_col("v").alias("uv"), "cell"
        )
    )
    # Stage 3 — per-cluster bucket-PAIR (triangle) run scan in counts
    # mode (operators/pairscan.py — the module docstring carries the
    # measured negatives that force this exact shape).  Per cell the
    # ids split into an occupancy-sized number of buckets (cold cells
    # pay zero replication; mega-cells hold at the 16-bucket
    # parallelism floor instead of ballooning shuffle bytes) and the
    # (lo <= hi) bucket pairs are the scan units, bounding BOTH unit
    # sides; every unordered pair lands in exactly one unit, so the
    # gate is exact at any bucket count (tests/test_salt_invariance.py
    # pins 1 vs 5 vs adaptive bit-identity).  The kernel keeps running
    # count arrays — <= 2 x bucket slim rows per unit, never a pair
    # list, whatever the hit density — and one sum + left join against
    # the assigned corpus assembles the per-vector gate.
    partial = pair_scan(vb, ["cell"], SEMDEDUP_TAU, mode="counts")
    counts = partial.groupBy("vec_id").agg(F.sum("n").alias("nld"))
    return (
        vb.select("vec_id", "cell")
        .join(counts, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("nld"), F.lit(0))
            .cast("long")
            .alias("n_lower_dups"),
            F.when(F.coalesce(F.col("nld"), F.lit(0)) > 0, F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("semdedup_gate"),
        )
    )
