"""The query registry's storage: named ``QuerySpec`` entries.

Imports no operator module, so every operator and ``plans/*_queries.py``
module registers here at import time without an import cycle.
``plans/queries.py`` imports all of them and serves the driver-facing
order (``queries()`` / ``oracle_sql()``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_tables


@dataclass(frozen=True)
class QuerySpec:
    """One registry entry.

    ``build`` returns the query's result DataFrame.  Most builders are
    pure plan constructors (no Spark jobs until the caller acts), but a
    few are CONTRACTUALLY EAGER — they run bounded driver actions at
    build time where the algorithm itself needs data-dependent
    decisions before the final plan exists: ``dedup_ngram_jaccard``
    (total-shingle-mass agg + capped hot-shingle collect),
    ``knn_bruteforce_cosine`` (query-sample count for the broadcast
    gate), ``dedup_cluster_canonical`` / ``kmeans_lloyd_centroids``
    (one convergence count per iteration round),
    ``embedding_pq_codes`` / ``knn_pq_adc`` / ``knn_pq_refine`` (first
    use per session trains and collects the fixed 128-row PQ codebook
    artifact), ``corpus_semdedup`` (first use collects the bounded
    shared-quantizer artifact), ``corpus_word_freqitems`` (freqItems
    materializes its one-row Misra-Gries summary), and the
    corpus-scaled quantizer paths ``knn_lsh_hyperplane`` /
    ``knn_lsh_multiprobe`` / ``knn_pq_adc`` / ``knn_pq_refine`` /
    ``knn_ivf_kmeans`` / ``knn_ivfpq_adc`` / ``corpus_semdedup`` /
    ``dedup_embedding_cosine`` (one cached metadata count per
    session/corpus sizes the bucket/cell grid),
    ``embedding_pca_top_component`` (collects its bounded moment rows
    and finishes on the driver).  Plan-only consumers
    (EXPLAIN tooling, plan-shape tests) should expect those builders to
    submit jobs; everything else stays lazy.
    """

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    survey_ref: str = ""  # SURVEY.md §2 operator ids this query covers


#: name -> spec, in registration order.  Complete only once
#: ``plans/queries.py`` has been imported.
REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, spec: QuerySpec) -> None:
    REGISTRY[name] = spec


def registered_query(name: str, survey_ref: str, oracle: str | None):
    """Decorator: register ``fn(spark, tables) -> DataFrame`` under name.

    The shared registration shim every operator module aliases as
    ``_q``: wraps a table-level builder in a ``(spark, sf_dir)`` loader
    so the registry callable matches the driver contract.
    """

    def deco(fn):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(spark, load_tables(spark, sf_dir))

        register(name, QuerySpec(build=build, oracle=oracle, survey_ref=survey_ref))
        return fn

    return deco
