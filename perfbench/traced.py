"""Traced runs: the per-layer table of a workload.

A traced run warms up like an untimed one, then alternates plain and
traced operations of the workload's own loop, so the tracing overhead is
the difference of their medians.  So that every per-layer metric is
measured on every workload, a traced ``poll-*`` run ends with one traced
registry-mix pass (on the registry-mix data) and a traced
``registry-mix`` run ends with ``PROBE_CYCLES`` traced poll cycles (on
its own data).  Spark totals come from the event log, which is enabled
only in traced runs and parsed after the session stops.
"""

from __future__ import annotations

import json
import os
import pathlib
import statistics
import time

from spans import (CYCLE, POLL_LAYERS, PREFIXES, Tracer, instrument_poll,
                   poll_layer_times, spark_layer_totals)
from stats import SPARK_FIELDS, parse_event_log
from workloads import PROBE_CYCLES, REGISTRY_MIX, Mix, Poller, Run, noop

_SPARK_UNITS = {"jobs": "count", "tasks": "count", "task_run_s": "s",
                "shuffle_bytes": "B", "spill_bytes": "B"}
REGISTRY_LAYERS = ["registry." + q for q in REGISTRY_MIX]
COUNTS = [
    ("cancellation.join.rows", "count"),
    ("cancellation.decode.rows", "count"),
    ("dedup.rows", "count"),
    ("dedup.survivor_ratio", "ratio"),
    ("diff.new", "count"),
    ("diff.repeated", "count"),
    ("poller.sink_files", "count"),
    ("snapshot.bytes", "B"),
    ("artifacts.served_disk", "count"),
    ("artifacts.built", "count"),
]
#: every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = (
    [(f"{layer}.s", "s") for layer in POLL_LAYERS]
    + [("poller.residual.s", "s")]
    + [(f"{layer}.s", "s") for layer in REGISTRY_LAYERS]
    + [(f"{layer}.{f}", _SPARK_UNITS[f]) for layer in POLL_LAYERS + REGISTRY_LAYERS
       for f in SPARK_FIELDS]
    + COUNTS
    + [("tracing.overhead_s", "s")]
)
UNITS = dict(PER_LAYER)


def traced_poll_cycle(poller: Poller, tracer: Tracer, layers: dict) -> float:
    """One cycle under spans, then the cumulative pipeline prefixes
    (join, +decode, +dedup) materialized for the same parameters, with
    their row counts.  Returns the cycle's wall time."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from transitdata_omm_cancellation_source_spark.plans.cancellation import (
        decode_cancellations, dedup_cancellations, raw_cancellations)

    i = len(poller.history)
    tracer.cycle = i
    with instrument_poll(tracer, poller.sink), tracer.span(CYCLE):
        wall = poller.cycle()
    raw = raw_cancellations(poller.spark, poller.params(i))
    dec = decode_cancellations(raw)
    rows = {}
    for name, df in zip(PREFIXES, [raw, dec, dedup_cancellations(dec)]):
        obs = Observation(name)
        with tracer.span("prefix." + name):
            noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
        rows[name] = obs.get["rows"]
    tracer.cycle = None
    counts = poller.history[-1][1]
    snap = os.path.join(poller.store.path, f"v{poller.store.current_version()}")
    join, decoded, dedup = (rows[n] for n in PREFIXES)
    layers.update({
        "cancellation.join.rows": join,
        "cancellation.decode.rows": decoded,
        "dedup.rows": dedup,
        "dedup.survivor_ratio": dedup / max(1, decoded),
        "diff.new": counts["new"],
        "diff.repeated": counts["repeated"],
        "poller.sink_files": sum(f.endswith(".parquet") for f in os.listdir(poller.sink)),
        "snapshot.bytes": sum(os.path.getsize(os.path.join(snap, f)) for f in os.listdir(snap)),
    })
    return wall


def _alternate(plain, traced, seconds: float, minimum: int) -> tuple[list, list]:
    """Plain and traced operations in turn, as ``workloads.timed_loop``."""
    walls: tuple[list, list] = ([], [])
    t0 = time.perf_counter()
    while len(walls[1]) < minimum or time.perf_counter() - t0 < seconds:
        walls[0].append(plain())
        walls[1].append(traced())
    return walls


def _registry_pass(mix: Mix, run: Run, tracer: Tracer, layers: dict) -> float:
    from transitdata_omm_cancellation_source_spark import artifacts

    mark = len(artifacts.SERVE_EVENTS)
    wall = mix.timed_pass(run, tracer)
    served = [e["served"] for e in artifacts.SERVE_EVENTS[mark:]]
    for key, kind in (("artifacts.served_disk", "disk"), ("artifacts.built", "built")):
        layers[key] = layers.get(key, 0) + served.count(kind)
    return wall


def run(spark, sf_dir: str, mix_dir: str, run_dir: pathlib.Path, a, run: Run) -> dict:
    tracer = Tracer(spark)
    layers: dict = {}
    if a.workload.startswith("poll"):
        poller = Poller(spark, sf_dir, run_dir / "poll", a.seed)
        poller.warm_up()
        first = len(poller.history)
        plain, traced = _alternate(
            lambda: run.attempt(poller.cycle),
            lambda: run.attempt(traced_poll_cycle, poller, tracer, layers),
            a.seconds, 2)
        poller.check(run, first)
        _registry_pass(Mix(spark, mix_dir, a.seed), run, tracer, layers)
        passes = 1
    else:
        mix = Mix(spark, sf_dir, a.seed)
        mix.checked_pass(run)
        plain, traced = _alternate(
            lambda: mix.timed_pass(run),
            lambda: _registry_pass(mix, run, tracer, layers),
            a.seconds, 1)
        passes = len(traced)
        poller = Poller(spark, sf_dir, run_dir / "poll", a.seed)
        for _ in range(PROBE_CYCLES):
            run.attempt(traced_poll_cycle, poller, tracer, layers)
        poller.check(run, 0)
    layer_s, n = poll_layer_times(tracer)
    layers.update(layer_s)
    for layer in REGISTRY_LAYERS:
        layers[f"{layer}.s"] = sum(
            s["end"] - s["start"] for s in tracer.spans if s["name"] == layer) / passes
    for key in ("artifacts.served_disk", "artifacts.built"):
        layers[key] /= passes
    plain = [w for w in plain if w is not None]
    traced = [w for w in traced if w is not None]
    layers["tracing.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return {"layers": layers, "cycles": n, "passes": passes, "spans": tracer.spans,
            "plain": plain, "traced": traced}


def finish(res: dict, event_log: pathlib.Path, out: pathlib.Path) -> dict:
    """Add the event-log totals, write the spans and the table to
    ``out`` and print the table; returns the per-layer metrics."""
    by_desc: dict = {}
    for f in sorted(p for p in event_log.rglob("*") if p.is_file()):
        with open(f) as fh:
            for desc, totals in parse_event_log(fh).items():
                acc = by_desc.setdefault(desc, dict.fromkeys(SPARK_FIELDS, 0))
                for k, v in totals.items():
                    acc[k] += v
    layers = res["layers"]
    layers.update(spark_layer_totals(by_desc, POLL_LAYERS, res["cycles"]))
    layers.update(spark_layer_totals(by_desc, REGISTRY_LAYERS, res["passes"]))
    metrics = {name: layers[name] for name, _ in PER_LAYER}
    children = sum(layers[f"{x}.s"] for x in POLL_LAYERS
                   if x not in PREFIXES and x != CYCLE)
    print(f"poll layers over {res['cycles']} traced cycles: children {children:.4f}s "
          f"+ residual {layers['poller.residual.s']:.4f}s = {CYCLE} {layers[CYCLE + '.s']:.4f}s")
    for name, unit in PER_LAYER:
        print(f"  {name:<58} {metrics[name]:>16.6g} {unit}")
    out.parent.mkdir(parents=True, exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"metrics": metrics, "spark_by_description": by_desc,
                   "plain_walls": res["plain"], "traced_walls": res["traced"],
                   "spans": res["spans"]}, fh, indent=1)
    return metrics
