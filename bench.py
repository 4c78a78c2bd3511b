"""Benchmark harness — runs the engine's headline queries at a scale
factor and prints ONE JSON line for the driver.

Usage: ``python3 bench.py`` (env: $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS).

Each query is materialized with a noop write (forces full computation of
every projected column — ``count()`` would let Catalyst prune the work
away) and timed wall-clock after a warm-up pass of the catalog.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from transitdata_omm_cancellation_source_spark import artifacts
from transitdata_omm_cancellation_source_spark.caching import release_tracked
from transitdata_omm_cancellation_source_spark.catalog import load_tables
from transitdata_omm_cancellation_source_spark.plans import queries as registry
from transitdata_omm_cancellation_source_spark.session import get_spark

#: Headline set: the two flagship pipelines plus every north-star
#: operator family, in a stable hand-picked order so per-query timings
#: stay comparable across rounds.  Every OTHER registry entry (the §2
#: micro-probes, lifecycle/sink queries, sketch paths) is appended
#: dynamically at run time — the whole registry gets a perf baseline,
#: and newly registered queries can never silently go un-benched.
HEADLINE = [
    "cancellation_pipeline_now",
    "cancellation_pipeline_past",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_edit_distance",
    "dedup_delta_batch",
    "dedup_delta_embedding",
    "dedup_stream_incremental",
    "text_token_stats",
    "text_quality_score",
    "text_language_id",
    "text_fingerprint",
    "text_tfidf_topk",
    "text_bm25_search",
    "docs_keyword_search",
    "corpus_mixture_sample",
    "corpus_stratified_split",
    "events_hopping_window",
    "knn_bruteforce_cosine",
    "knn_lsh_hyperplane",
    "knn_lsh_multiprobe",
    "knn_ivf_label",
    "knn_ivf_kmeans",
    "knn_int8_cosine",
    "embedding_int8_quantize",
    "kmeans_lloyd_centroids",
    "mm_decode_features",
    "mm_frame_sample",
    "events_json_props_extract",
    "events_tumbling_window",
    "events_session_window",
    "events_asof_latest_order",
    "events_attribution_range_join",
    "events_value_quantiles",
    "events_top_users_per_type",
    "events_gapfill_daily",
    "events_lag_lead_stats",
    "embedding_label_centroid",
    "dedup_cluster_canonical",
    "corpus_ngram_topk",
    "corpus_decontaminate",
    "corpus_prep_pipeline",
    "corpus_token_chunks",
    "corpus_pack_sequences",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue",
    "window_running_customer_total",
    "region_nation_rollup",
    "lineitem_cube_revenue",
    "events_segment_enrich_salted",
]


#: The reference polls on a 30 s cycle and warns past a 4 s query SLO
#: (OmmPollers / slow-cycle warn, SURVEY.md §2.8); one full flagship
#: pipeline run must fit comfortably inside it.
FLAGSHIP_SLO_SEC = 4.0

FLAGSHIPS = ("cancellation_pipeline_now", "cancellation_pipeline_past")

#: Queries that execute real poll/streaming cycles: their wall time is
#: dominated by fixed per-cycle machinery (streaming-query startup,
#: checkpoint recovery), not data volume, so they are reported in their
#: own section rather than polluting the batch noise-band totals.
#: Value = number of poll cycles the query executes, so the tail can
#: also report ``per_cycle_sec`` — the figure comparable to the
#: reference's 4 s per-cycle SLO (total/cycles still includes the
#: amortized one-time stream startup, so it OVERSTATES steady state).
#: Pinned against the query's own constant below so a cycle-count
#: change in the builder can't silently mislabel ``per_cycle_sec``.
STREAMING_CYCLE_QUERIES = {
    "a3_stateful_two_cycle_poll": 2,
    # r15: the incremental-dedup leg now runs REAL Structured Streaming
    # (one availableNow query start + checkpoint recovery per batch),
    # so its wall is dominated by the same fixed per-cycle machinery.
    "dedup_stream_incremental": 2,
}

from transitdata_omm_cancellation_source_spark.operators.dedup_fuzzy import (  # noqa: E402
    _STREAM_BATCHES,
)
from transitdata_omm_cancellation_source_spark.plans.lifecycle_queries import (  # noqa: E402
    TWO_CYCLE_POLL_CYCLES,
)

assert STREAMING_CYCLE_QUERIES["a3_stateful_two_cycle_poll"] == TWO_CYCLE_POLL_CYCLES, (
    "bench per_cycle_sec divisor out of sync with the poll query's "
    f"cycle count ({TWO_CYCLE_POLL_CYCLES})"
)
assert (
    STREAMING_CYCLE_QUERIES["dedup_stream_incremental"] == _STREAM_BATCHES
), (
    "bench per_cycle_sec divisor out of sync with the dedup stream's "
    f"batch count ({_STREAM_BATCHES})"
)

#: The driver keeps only the last 2000 chars of bench output — VERIFIED
#: against the recorded BENCH_r14/r15.json ``tail`` fields: exactly 2000
#: chars INCLUDING the final newline, so the hard limit on the final
#: JSON line is 1999 bytes.  1900 leaves real headroom while fitting
#: the full headline set (the final line is serialized with compact
#: separators; the r15 budget of 1800 with spaced separators silently
#: shed two headline queries — r15 verdict #5).
TAIL_BUDGET = 1900


def _compact(obj) -> str:
    """Final-line serializer: compact separators save ~130 bytes over
    json.dumps defaults on a 66-key summary — headline entries ride
    inside the driver tail because of exactly this."""
    return json.dumps(obj, separators=(",", ":"))


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


#: Idle-box preflight (r12 measurement-hygiene lesson, promoted from
#: harness practice to the bench entrypoint itself): a killed Spark
#: job's 32 workers keep burning CPU until the JVM dies, and several
#: r12 re-measurements were poisoned 2-60x by exactly that.  Above
#: this 1-min loadavg the box is not idle enough to time anything.
IDLE_LOAD1_MAX = 4.0
#: how long the preflight will wait for the box to drain before
#: proceeding anyway (annotated, never silently) — driver runs must
#: always produce a JSON line.
IDLE_WAIT_MAX_SEC = 180.0


def read_load1() -> float:
    """1-minute loadavg (separate so tests can stub it)."""
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


#: Below this best-of GEMM throughput the box is compute-degraded in a
#: way loadavg cannot see (hypervisor steal): the r13 measurement days
#: read 350-530 GFLOP/s healthy and 17-54 during steal storms on this
#: box, so 150 splits the bands with margin on both sides.  Overridable
#: per deployment — the absolute number is hardware-specific.
GEMM_FLOOR_GFLOPS = float(
    os.environ.get("SPARK_GRAFT_GEMM_FLOOR_GFLOPS", "150")
)
#: probe shape: 2048^3 x 2 flops = 17.2 GFLOP per rep — big enough that
#: a steal interval cannot hide between timer reads, small enough that
#: three reps cost well under a second on a healthy box.
_GEMM_N = 2048


def gemm_gflops(n: int = _GEMM_N, reps: int = 3) -> float:
    """Best-of fixed-shape matmul throughput (GFLOP/s).

    loadavg counts runnable tasks but hypervisor steal takes CPU from
    RUNNING tasks — the r13 bench read ``busy_box: false`` while the
    box sustained ~18% steal and every query drifted a uniform +27%.
    A fixed-shape GEMM measures delivered compute directly; best-of
    because steal can only SLOW a rep, never speed one.
    """
    import numpy as np

    a = np.random.default_rng(0).random((n, n))
    best = 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        a @ a
        dt = time.perf_counter() - t0
        best = max(best, 2.0 * n**3 / dt / 1e9)
    return round(best, 1)


def gemm_bracket(start: float, end: float, floor: float = None) -> dict:
    """Summary payload for a pair of bracketing GEMM probes.

    ``degraded`` is the machine-readable "these numbers carry steal"
    flag the r13 round lacked: EITHER probe below the floor taints the
    run (steal oscillates — r13's run 5 launched at 532 and finished
    at 17.7 GFLOP/s, so a single healthy read proves nothing about the
    interval between them).
    """
    if floor is None:
        floor = GEMM_FLOOR_GFLOPS
    return {
        "start_gflops": start,
        "end_gflops": end,
        "floor_gflops": floor,
        "degraded": min(start, end) < floor,
    }


#: bounded healthy-window wait before each timed pass: the r14 round
#: labeled every committed bench degraded but never dodged the steal —
#: the probe now GATES the timed region (r14 verdict #3).  10 min per
#: pass bounds the total wait; past it the pass runs anyway
#: (annotated, never silently — driver runs must always produce a
#: JSON line).
GEMM_WAIT_MAX_SEC = 600.0
GEMM_WAIT_INTERVAL_SEC = 15.0
#: pass budget: 2 healthy passes wanted (per-query best-of), up to 4
#: attempts — a pass whose closing probe collapsed mid-run is
#: discarded and retried while budget remains.
HEALTHY_PASSES_WANTED = 2
MAX_PASSES = 4


def wait_for_healthy_gemm(
    probe=gemm_gflops,
    sleep=time.sleep,
    floor: float = None,
    wait_max: float = GEMM_WAIT_MAX_SEC,
    interval: float = GEMM_WAIT_INTERVAL_SEC,
) -> dict:
    """Wait (bounded) for delivered compute to clear the floor.

    Steal storms on this box last minutes, not hours (r13/r14 logs),
    so a short bounded wait usually finds a healthy window; if the
    budget expires below the floor the caller proceeds anyway with
    ``healthy: False`` recorded — the flag that says 'no healthy
    window was on offer', the documented-negative branch of the
    verdict's done-bar.
    """
    if floor is None:
        floor = GEMM_FLOOR_GFLOPS
    waited = 0.0
    g = probe()
    probes = [g]
    while g < floor and waited < wait_max:
        sleep(interval)
        waited += interval
        g = probe()
        probes.append(g)
    return {
        "gflops": g,
        "probes": len(probes),
        "waited_sec": round(waited, 1),
        "healthy": g >= floor,
    }


def select_passes(passes: list) -> tuple:
    """Merge per-pass timings into per-query best-of, preferring
    HEALTHY passes (both bracketing probes at/above floor).

    ``passes`` is [(timings_dict, bracket_dict), ...].  Returns
    (timings, degraded, used_count): when at least one pass is
    healthy, only healthy passes contribute and ``degraded`` is False;
    otherwise every pass contributes and ``degraded`` is True — the
    numbers carry steal and say so.
    """
    healthy = [p for p in passes if not p[1]["degraded"]]
    use = healthy or passes
    timings: dict[str, float] = {}
    for pass_timings, _ in use:
        for name, t in pass_timings.items():
            timings[name] = min(timings.get(name, t), t)
    return timings, not healthy, len(use)


def preflight_idle(
    read=read_load1,
    sleep=time.sleep,
    load_max: float = IDLE_LOAD1_MAX,
    wait_max: float = IDLE_WAIT_MAX_SEC,
) -> dict:
    """Wait (bounded) for the box to go idle; report what was seen.

    Returns a dict recorded verbatim in the bench summary:
    ``load1_initial`` / ``load1_at_start`` bracket the wait, and
    ``busy_box`` is True when the run STARTED on a loaded box — the
    flag that tells a reader the numbers carry foreign noise.
    """
    initial = read()
    waited = 0.0
    load = initial
    while load > load_max and waited < wait_max:
        sleep(5.0)
        waited += 5.0
        load = read()
    return {
        "load1_initial": round(initial, 2),
        "load1_at_start": round(load, 2),
        "waited_sec": round(waited, 1),
        "busy_box": load > load_max,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 0)
    preflight = preflight_idle()
    spark = get_spark(app_name="transitdata-omm-bench")

    # Warm-up outside the timed region: parquet footers, then one full
    # flagship run so whole-stage codegen, broadcast machinery and the
    # Python worker pool are hot before the clock starts.
    tables = load_tables(spark, sf_dir)
    for name in ("lineitem", "documents", "embeddings"):
        tables[name].count()

    specs = registry.REGISTRY
    # driver-facing (certification-window) order for the dynamic tail —
    # the raw REGISTRY dict order is import-order-dependent
    known = set(HEADLINE)
    workload = HEADLINE + [n for n in registry.queries() if n not in known]
    _materialize(specs["cancellation_pipeline_now"].build(spark, sf_dir))
    # Timed passes of the whole workload, per-query best-of: a single
    # local[32] pass is exposed to one-off GC/scheduling spikes
    # (observed 2-10x outliers on individual queries run-to-run); the
    # per-query minimum is the standard steady-state estimator.
    #
    # PASS-INDEPENDENCE BOUNDARY (r15 verdict #4 — stated precisely):
    # release_tracked() between passes unpersists every tracked FRAME
    # and drops the session memo's frame entries, so in-session shared subtrees
    # (tokenize frames, pair frames, PQ assignments) are rebuilt and
    # paid inside every pass.  Two sanctioned tiers survive passes —
    # and sessions — by design:
    #  - the DISK artifact tier (standing indexes: shingle_sets,
    #    band_frame, cosine_vb, ivf assignment; trained codebook/
    #    quantizer rows): steady-state serving is their POINT (r14
    #    verdict #1).  Which artifacts the timed region loaded vs
    #    built is reported machine-readably below
    #    (``disk_artifacts_served``), so a warm-vs-cold run is always
    #    distinguishable from the JSON alone.
    #  - the VALUE entries of caching.memo (trained codebook and
    #    quantizer, corpus count, max|u|, pagerank pass count) — plan
    #    parameters / trained artifacts, no executor memory; cleared
    #    only by caching.clear_value_memos().
    #
    # GATED ON THE GEMM PROBE (r14 verdict #3): each pass starts only
    # after a bounded wait for delivered compute above the floor, and
    # is bracketed by probes — a pass whose closing probe collapsed
    # carried steal, so it is discarded and retried while the pass
    # budget lasts; per-query best-of then merges HEALTHY passes only.
    # If no healthy window was on offer inside the budget, every pass
    # contributes and ``degraded: true`` says so.
    passes: list = []
    waits: list = []
    serve_events: list = []  # per-pass disk-tier serve log (artifacts.SERVE_EVENTS)
    pass_no = 0
    while pass_no < MAX_PASSES:
        healthy_done = sum(1 for _, br in passes if not br["degraded"])
        if healthy_done >= HEALTHY_PASSES_WANTED:
            break
        if pass_no >= 2 and healthy_done == 0 and not waits[-1]["healthy"]:
            break  # box never offered a window: 2 degraded passes recorded
        wait = wait_for_healthy_gemm()
        waits.append(wait)
        gemm_start = wait["gflops"]
        if pass_no:
            release_tracked()  # deterministic release of tracked persists
            spark.catalog.clearCache()
        serve_mark = len(artifacts.SERVE_EVENTS)
        pass_timings: dict[str, float] = {}
        for name in workload:
            if name not in specs:
                continue
            t0 = time.perf_counter()
            _materialize(specs[name].build(spark, sf_dir))
            pass_timings[name] = round(time.perf_counter() - t0, 3)
        passes.append((pass_timings, gemm_bracket(gemm_start, gemm_gflops())))
        serve_events.append(artifacts.SERVE_EVENTS[serve_mark:])
        pass_no += 1
    timings, degraded, passes_used = select_passes(passes)
    # NOTE: persisted intermediates (shingle sets, norms) are shared
    # across the dedup family via Spark's cached-plan matching — kept
    # intentionally: the headline set is timed as one workload, and a
    # real pipeline computing several dedup variants shares exactly this.

    total = round(sum(timings.values()), 3)

    # The driver preserves only the LAST ``TAIL_BUDGET`` chars of this
    # process's output and json-parses the final line.  BENCH_r05/r06 lost
    # their ``parsed`` payload entirely because the one JSON line grew past
    # the budget with the registry (89+ per-query entries ≈ 3 kB) — a
    # truncated JSON line is unparseable no matter which keys come last.
    # r15's fill-until-budget fix then silently shed two HEADLINE entries
    # (the driver's PERF marked them "dropped"), so r16 restructures the
    # final line around one invariant: EVERY headline query always fits.
    # The final line carries the driver-contract keys (metric/value/unit/
    # queries/sf) plus a handful of scalars; headline per-query values are
    # rounded to 2 dp (the measurement floor at sf0.1 is ~0.1-0.3 s, so
    # nothing is lost) and the dynamic tail fills whatever budget remains.
    # EVERYTHING ELSE — full 3 dp per-query detail, streaming/flagship
    # breakdowns, preflight, per-pass GEMM brackets, per-pass disk-tier
    # serve logs — moves to the earlier stdout detail line (truncation-
    # tolerant) and to ``BENCH_FULL_c<cpus>.json`` (cpu-suffixed per r15
    # verdict #5 so the 8-core probe can't overwrite the 32-core record;
    # plain ``BENCH_FULL.json`` still points at the latest run).
    # Streaming-cycle queries pay fixed query-startup + checkpoint-
    # recovery overhead that is not a function of data volume, so they
    # are totalled separately — ``batch_total`` is the number to compare
    # across rounds for noise-band math.
    streaming_overhead = {
        n: timings[n] for n in STREAMING_CYCLE_QUERIES if n in timings
    }
    flagship = {n: timings[n] for n in FLAGSHIPS if n in timings}
    slowest_flagship = max(flagship.values(), default=0.0)
    # disk-tier visibility (r15 verdict #4): which standing artifacts the
    # timed region loaded from the artifact tier vs built, per pass in the
    # detail file, names-union in the final line.
    disk_served = sorted(
        {e["name"] for ev in serve_events for e in ev if e["served"] == "disk"}
    )
    artifacts_built = sorted(
        {e["name"] for ev in serve_events for e in ev if e["served"] == "built"}
    )
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": {},  # filled below; every HEADLINE entry always fits
        "queries_timed": len(timings),
        "full_detail": f"BENCH_FULL_c{cpus}.json",
        "batch_total": round(total - sum(streaming_overhead.values()), 3),
        "flagship_slo_ok": slowest_flagship <= FLAGSHIP_SLO_SEC,
        # True iff any timed pass loaded a standing index from disk — the
        # flag that says batch dedup walls exclude the corpus index build.
        "disk_artifacts_served": disk_served,
        # False iff the reported timings come exclusively from passes
        # whose both bracketing GEMM probes cleared the floor (loadavg
        # can't see hypervisor steal; the probes can).
        "degraded": degraded,
    }
    full = dict(
        summary,
        streaming_cycle_overhead=streaming_overhead,
        per_cycle_sec={
            n: round(t / STREAMING_CYCLE_QUERIES[n], 3)
            for n, t in streaming_overhead.items()
        },
        flagship=flagship,
        flagship_slo_sec=FLAGSHIP_SLO_SEC,
        preflight=preflight,
        artifacts_built_in_timed_region=artifacts_built,
        disk_serve_events_per_pass=serve_events,
        gemm_probe={
            "floor_gflops": GEMM_FLOOR_GFLOPS,
            "degraded": degraded,
            "passes_run": len(passes),
            "passes_used": passes_used,
            "brackets": [br for _, br in passes],
            "waits": waits,
        },
    )
    full["queries"] = dict(sorted(timings.items()))
    detail_line = json.dumps(full)
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in (f"BENCH_FULL_c{cpus}.json", "BENCH_FULL.json"):
        try:
            with open(os.path.join(here, fname), "w") as fh:
                fh.write(detail_line + "\n")
        except OSError:
            pass  # read-only checkout: stdout detail line still carries it
    print(detail_line)

    # Headline entries first — ALL of them, 2 dp (invariant checked
    # below) — then the dynamic tail, slowest-first, 2 dp, while the
    # serialized line fits the byte budget.
    for name in [*FLAGSHIPS, *HEADLINE]:
        if name in timings:
            summary["queries"][name] = round(timings[name], 2)
    assert len(_compact(summary)) <= TAIL_BUDGET, (
        "headline set no longer fits the driver tail budget: "
        f"{len(_compact(summary))} > {TAIL_BUDGET} bytes — trim the "
        "non-queries scalars above, never a headline entry"
    )
    rest = sorted(
        (n for n in timings if n not in FLAGSHIPS and n not in HEADLINE),
        key=lambda n: -timings[n],
    )
    for name in rest:
        summary["queries"][name] = round(timings[name], 2)
        if len(_compact(summary)) > TAIL_BUDGET:
            # drop just this entry and keep trying: a later shorter-named
            # query may still fit the remaining byte budget.
            del summary["queries"][name]
            continue
    print(_compact(summary))


if __name__ == "__main__":
    sys.exit(main())
