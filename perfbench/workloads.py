"""The benchmark's workloads: the poll loop and the registry mix.

Each is driven through the engine's public functions only; outcome
bookkeeping (operations attempted, failed and mismatched) is shared.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import pathlib
import random
import sys
import time
import traceback

REGISTRY_MIX = [
    "parts_copurchase_pagerank",
    "embedding_pca_top_component",
    "dedup_ngram_jaccard",
    "knn_ivfpq_adc",
    "promo_revenue_share_monthly",
    "tpch_q5_region_revenue",
    "e3_protobuf_roundtrip",
    "text_fingerprint",
]
#: the reference poller's interval: the simulated clock's step per cycle
STEP = dt.timedelta(seconds=30)
TS_FMT = "%Y-%m-%d %H:%M:%S"
#: untimed warm-up cycles.  Cycle time falls steeply for the first five
#: (JIT and plan-cache warm-up) and then by about 2 % a cycle until about
#: the fifteenth; fifteen do not fit the time budget of a run, so the
#: timed cycles start on that slow slope (see README)
WARM_CYCLES = 7
MIN_CYCLES, MIN_PASSES = 3, 1
#: poll cycles a traced registry-mix run adds so the poll layers are measured
PROBE_CYCLES = 2


def clock_start(seed: int) -> dt.datetime:
    """The poller's simulated start: a whole second in the 24 h from
    2024-01-15 00:00, mid-way through the January event span.  Cases
    stay current until their events are 36 h old, so the rows per cycle
    shrink as the start moves later; a one-day window keeps that within
    a few percent across seeds."""
    rng = random.Random(seed)
    return dt.datetime(2024, 1, 15) + dt.timedelta(seconds=rng.randrange(86_400))


class Run:
    """Outcome bookkeeping shared by every workload."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn, *args):
        """Run one timed operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # the loop must go on and report the failure
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, ok: bool, what: str) -> None:
        """An output check; a mismatch counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH {what}", file=sys.stderr)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# --------------------------------------------------------------------------
# poll loop
# --------------------------------------------------------------------------

class Poller:
    """``run_poll_cycle`` on a simulated clock that advances ``STEP``
    per cycle from a seed-chosen start, with its own sink and snapshot."""

    def __init__(self, spark, sf_dir: str, out: pathlib.Path, seed: int):
        from transitdata_omm_cancellation_source_spark.catalog import load_tables
        from transitdata_omm_cancellation_source_spark.plans.omm_model import register_omm_views
        from transitdata_omm_cancellation_source_spark.streaming.poller import SnapshotStore

        load_tables(spark, sf_dir)
        register_omm_views(spark)
        self.spark, self.sf_dir = spark, sf_dir
        self.sink = str(out / "sink")
        self.store = SnapshotStore(str(out / "snapshot"))
        self.start = clock_start(seed)
        self.history: list[tuple] = []  # (params, counts, wall) per cycle

    def params(self, i: int):
        from transitdata_omm_cancellation_source_spark.plans.cancellation import QueryParams

        now = self.start + i * STEP
        return QueryParams(now=now.strftime(TS_FMT), today=now.strftime("%Y-%m-%d"),
                           since=(now - STEP).strftime(TS_FMT), mode="NOW")

    def cycle(self) -> float:
        from transitdata_omm_cancellation_source_spark.streaming.poller import run_poll_cycle

        p = self.params(len(self.history))
        t0 = time.perf_counter()
        counts = run_poll_cycle(self.spark, self.store, p, sink_dir=self.sink)
        wall = time.perf_counter() - t0
        self.history.append((p, counts, wall))
        return wall

    def warm_up(self) -> None:
        for _ in range(WARM_CYCLES):
            self.cycle()

    def check(self, run: Run, first: int) -> None:
        """Each cycle from ``first`` on against the DuckDB oracle (total,
        and new/repeated by dvj_id against the previous cycle's oracle
        rows), then the sink and snapshot row counts."""
        from transitdata_omm_cancellation_source_spark.plans.cancellation import cancellation_oracle_sql
        from transitdata_omm_cancellation_source_spark.testing import duckdb_connection

        con = duckdb_connection(self.sf_dir)
        try:
            prev: set = set()
            for i in range(max(0, first - 1), len(self.history)):
                p, counts, _ = self.history[i]
                rows = con.execute(cancellation_oracle_sql(p)).df()["dvj_id"]
                if i < first:  # the cycle before the first checked one
                    prev = set(rows)
                    continue
                new = int((~rows.isin(prev)).sum())
                want = (len(rows), new, len(rows) - new)
                got = (counts["total"], counts["new"], counts["repeated"])
                run.check(got == want, f"cycle {i} {p.now}: engine {got} oracle {want}")
                prev = set(rows)
        finally:
            con.close()
        sink_rows = self.spark.read.parquet(self.sink).count()
        want_sink = sum(c["total"] for _, c, _ in self.history)
        run.check(sink_rows == want_sink, f"sink rows {sink_rows} != {want_sink}")
        snap_rows = self.store.read(self.spark).count()
        last = self.history[-1][1]["total"]
        run.check(snap_rows == last, f"snapshot rows {snap_rows} != {last}")


# --------------------------------------------------------------------------
# registry mix
# --------------------------------------------------------------------------

class Mix:
    """The registry queries in a seed-chosen order, each materialized
    with a ``noop`` write; passes are separated as in ``bench.py``."""

    def __init__(self, spark, sf_dir: str, seed: int):
        from transitdata_omm_cancellation_source_spark.catalog import load_tables

        load_tables(spark, sf_dir)
        self.spark, self.sf_dir = spark, sf_dir
        self.order = list(REGISTRY_MIX)
        random.Random(seed).shuffle(self.order)

    def checked_pass(self, run: Run) -> None:
        """Untimed pass that collects each result and compares it with
        the query's DuckDB oracle; it also builds or loads the disk
        artifact tier, so timed passes are served warm."""
        from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY
        from transitdata_omm_cancellation_source_spark.testing import compare_frames, duckdb_connection

        con = duckdb_connection(self.sf_dir)
        try:
            for name in self.order:
                spec = REGISTRY[name]
                got = spec.build(self.spark, self.sf_dir).toPandas()
                problems = compare_frames(got, con.execute(spec.oracle).df())
                run.check(not problems, f"{name}: {problems[:3]}")
        finally:
            con.close()

    def timed_pass(self, run: Run, tracer=None) -> float:
        from transitdata_omm_cancellation_source_spark.caching import release_tracked
        from transitdata_omm_cancellation_source_spark.plans.queries import REGISTRY

        release_tracked()
        self.spark.catalog.clearCache()
        wall = 0.0
        for name in self.order:
            def one() -> float:
                t0 = time.perf_counter()
                with tracer.span("registry." + name) if tracer else contextlib.nullcontext():
                    noop(REGISTRY[name].build(self.spark, self.sf_dir))
                return time.perf_counter() - t0
            wall += run.attempt(one) or 0.0
        return wall


def timed_loop(op, seconds: float, minimum: int) -> list[float]:
    """Closed loop: start ``op`` again while under ``seconds`` (at least
    ``minimum`` times); returns the wall time of each operation."""
    walls: list[float] = []
    t0 = time.perf_counter()
    while len(walls) < minimum or time.perf_counter() - t0 < seconds:
        walls.append(op())
    return walls
