"""Scale evidence: run the expensive queries at sf0.1 and sf1 and
report wall-clock scaling ratios (SURVEY §8).

A 10x corpus should cost ~10x on scan-bound work and less than ~10x on
broadcast/top-k-bound work; a super-linear ratio (>>10x) flags a stage
whose work grows faster than the data — the thing that kills a 100 TB
run.  Best-of-2 per (query, sf) like bench.py; tracked persists and the
SQL cache are released between passes so each pass pays its own work.

Usage:
    python scripts/scale_check.py [--passes N] [--small DIR] [--big DIR]
        [--queries a,b,c]          # two-scale §8 table (the default)
    python scripts/scale_check.py --only DIR [--queries a,b,c] [--passes N]
        # single-scale per-query best-of-N (the former time_queries.py,
        # folded in so every §8 number comes from ONE harness)

Writes a markdown table to stdout (paste into SURVEY §8).  All flags
accept the space-separated form (``--passes 3``).
"""

from __future__ import annotations

import os
import sys
import time

import pathlib

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

# Size the single local JVM for the BIG scales this harness exists to
# measure (the engine default of 8g is sized for the sf0.1 bench):
# at sf25 the 8g heap GC-throttled the iterative queries 3-5x and
# heap-exhausted mid-run — exactly the "size executor memory to the
# target SF" rule a real cluster deployment applies per node.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")

from transitdata_omm_cancellation_source_spark.caching import release_tracked
from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.plans import queries as registry
from transitdata_omm_cancellation_source_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = ".scale/sf1"

#: The most expensive r6 bench entries plus one representative per
#: scale-sensitive family (shuffle-heavy dedup, candidate-join ANN,
#: windowed events, retrieval, TPC-H aggregation, the flagships).
QUERIES = [
    "cancellation_pipeline_now",
    "cancellation_pipeline_past",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_cluster_canonical",
    "corpus_prep_pipeline",
    "lineitem_basket_pairs",
    "embedding_pq_codes",
    "knn_pq_adc",
    "knn_lsh_hyperplane",
    "knn_ivf_kmeans",
    "tpch_q1_pricing_summary",
    "tpch_q5_region_revenue",
    "events_session_window",
    "events_attribution_range_join",
    "text_bm25_search",
    "corpus_bpe_pair_counts",
    "corpus_bigram_pmi",
    "corpus_substring_dedup",
    "knn_ivfpq_adc",
    "corpus_word_freqitems",
    "knn_label_vote",
    "parts_copurchase_pagerank",
    "orders_upsert_merge",
    # behavioral / user-history family (skew-prone hot users): second
    # scaling decade evidence requested by the r7 verdict
    "events_scd2_user_status",
    "events_funnel_conversion",
    "events_retention_cohorts",
]


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    global SF_SMALL, SF_BIG, QUERIES
    passes = 2
    only = None
    if "--passes" in sys.argv:
        passes = int(sys.argv[sys.argv.index("--passes") + 1])
    # second-decade runs: --small .scale/sf1 --big .scale/sf5
    if "--small" in sys.argv:
        SF_SMALL = sys.argv[sys.argv.index("--small") + 1]
    if "--big" in sys.argv:
        SF_BIG = sys.argv[sys.argv.index("--big") + 1]
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1]
    if "--queries" in sys.argv:
        QUERIES = sys.argv[sys.argv.index("--queries") + 1].split(",")
    spark = get_spark(app_name="transitdata-omm-scale-check")
    specs = registry.REGISTRY

    sf_dirs = (only,) if only else (SF_SMALL, SF_BIG)
    results: dict[str, dict[str, float]] = {q: {} for q in QUERIES}
    for sf_dir in sf_dirs:
        tables = load_tables(spark, sf_dir)
        for name in ("lineitem", "documents", "embeddings"):
            tables[name].count()
        # warm-up: one flagship run so codegen/broadcast machinery is hot
        _materialize(specs["cancellation_pipeline_now"].build(spark, sf_dir))
        # Trained artifacts (IVF quantizer, PQ codebook) are
        # train-once/serve-many (artifacts.load_or_train): build them
        # BEFORE the per-query timing and report the cost separately,
        # so decade ratios measure the OPERATOR — r11's 17.7x
        # knn_pq_refine row was one session's training bill charged to
        # whichever kernel-scan query ran first.  A repeated harness
        # run loads them from disk and reports ~0 while the data and
        # the engine's source are unchanged; the disk key covers every
        # .py file of the package, so the first run after any engine
        # edit retrains.
        t0 = time.perf_counter()
        from transitdata_omm_cancellation_source_spark.operators import (
            pq as _pq,
        )
        from transitdata_omm_cancellation_source_spark.operators import (
            similarity as _sim,
        )

        _sim.ivf_quantizer(spark, tables)
        _pq._shared_codebook(spark, _pq._vectors(tables))
        print(
            f"  [{sf_dir}] artifact_train_or_load_sec:"
            f" {time.perf_counter() - t0:.2f}",
            file=sys.stderr,
            flush=True,
        )
        for pass_no in range(passes):
            if pass_no:
                release_tracked()
                spark.catalog.clearCache()
            for q in QUERIES:
                t0 = time.perf_counter()
                _materialize(specs[q].build(spark, sf_dir))
                dt = round(time.perf_counter() - t0, 3)
                prev = results[q].get(sf_dir)
                results[q][sf_dir] = dt if prev is None else min(prev, dt)
                # progress to stderr so a crashed run is attributable
                print(
                    f"  [{sf_dir} pass {pass_no}] {q}: {dt:.2f}s",
                    file=sys.stderr,
                    flush=True,
                )
                # Shuffle files are only deleted when the JVM GCs the
                # RDDs referencing them (ContextCleaner); a 32g heap
                # GCs so rarely that a big-scale session accumulates
                # them until the DISK fills (measured: sf25 leg died
                # on ENOSPC).  One explicit collection per query keeps
                # the temp footprint bounded to the live query's.
                spark.sparkContext._jvm.System.gc()
        release_tracked()
        spark.catalog.clearCache()

    if only:
        print(f"\n| query | {only} (s) |")
        print("|---|---|")
        for q in QUERIES:
            print(f"| {q} | {results[q][only]:.2f} |")
        print(f"| **total** | {sum(r[only] for r in results.values()):.2f} |")
        return
    print(f"\n| query | {SF_SMALL} (s) | {SF_BIG} (s) | ratio |")
    print("|---|---|---|---|")
    for q in QUERIES:
        a, b = results[q][SF_SMALL], results[q][SF_BIG]
        print(f"| {q} | {a:.2f} | {b:.2f} | {b / a:.1f}x |")
    tot_a = sum(r[SF_SMALL] for r in results.values())
    tot_b = sum(r[SF_BIG] for r in results.values())
    print(f"| **total** | {tot_a:.2f} | {tot_b:.2f} | {tot_b / tot_a:.1f}x |")


if __name__ == "__main__":
    rc = main() or 0
    # The 32g-heap JVM can take minutes to wind down through the normal
    # shutdown hooks after the results are already printed; flush and
    # exit hard — nothing after the table matters.
    sys.stdout.flush()
    sys.stderr.flush()
    import os

    os._exit(rc)
