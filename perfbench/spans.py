"""Spans recorded around calls into the engine's modules (traced runs).

The engine is not modified: a traced poll cycle runs the unmodified
``run_poll_cycle`` while the module-level names it calls are wrapped for
the duration of that cycle (``instrument_poll``).  Every span also becomes
the Spark job description, so the event log attributes each job to the
innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import time
from unittest import mock

from stats import SPARK_FIELDS, self_times

#: the poll layers, in cycle order; ``cancellation.join`` .. ``dedup``
#: come from cumulative-prefix materializations made after the cycle
POLL_LAYERS = [
    "cancellation.plan_build",
    "cancellation.join",
    "cancellation.decode",
    "dedup.priority_argmax",
    "snapshot.read",
    "diff.diff_counts",
    "messages.encode",
    "poller.sink_schema_check",
    "poller.sink_append",
    "snapshot.replace",
    "poller.run_poll_cycle",
]
PREFIXES = ["cancellation.join", "cancellation.decode", "dedup.priority_argmax"]
CYCLE = "poller.run_poll_cycle"


class Tracer:
    """In-memory spans: name, start, end, parent span and cycle id."""

    def __init__(self, spark):
        self.spans: list[dict] = []
        self.cycle: int | None = None
        self._open: list[dict] = []
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "cycle": self.cycle,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self._sc.setJobDescription(self._open[-1]["name"] if self._open else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def per_cycle_self(self) -> dict[int, dict[str, float]]:
        """cycle id -> layer name -> summed self time of its spans."""
        st = self_times(self.spans)
        out: dict[int, dict[str, float]] = {}
        for s in self.spans:
            if s["cycle"] is not None:
                by = out.setdefault(s["cycle"], {})
                by[s["name"]] = by.get(s["name"], 0.0) + st[s["id"]]
        return out


class _CollectInSpan:
    """``diff_counts`` returns a lazy frame that ``run_poll_cycle``
    collects; this stand-in times that collect under the diff span."""

    def __init__(self, tracer: Tracer, df):
        self._tracer, self._df = tracer, df

    def collect(self):
        with self._tracer.span("diff.diff_counts"):
            return self._df.collect()


@contextlib.contextmanager
def instrument_poll(tracer: Tracer, sink_dir: str):
    """Wrap the calls ``run_poll_cycle`` makes into each layer."""
    from pyspark.sql import DataFrameWriter

    from transitdata_omm_cancellation_source_spark.streaming import poller

    diff_counts = poller.diff_counts
    write_parquet = DataFrameWriter.parquet

    def traced_diff(*args, **kwargs):
        with tracer.span("diff.diff_counts"):
            return _CollectInSpan(tracer, diff_counts(*args, **kwargs))

    def traced_parquet(writer, path, *args, **kwargs):
        if path != sink_dir:
            return write_parquet(writer, path, *args, **kwargs)
        with tracer.span("poller.sink_append"):
            return write_parquet(writer, path, *args, **kwargs)

    patches = [
        (poller, "cancellation_pipeline", tracer.wrap("cancellation.plan_build", poller.cancellation_pipeline)),
        (poller, "diff_counts", traced_diff),
        (poller, "encode_messages", tracer.wrap("messages.encode", poller.encode_messages)),
        (poller, "_check_sink_schema", tracer.wrap("poller.sink_schema_check", poller._check_sink_schema)),
        (poller.SnapshotStore, "read", tracer.wrap("snapshot.read", poller.SnapshotStore.read)),
        (poller.SnapshotStore, "replace", tracer.wrap("snapshot.replace", poller.SnapshotStore.replace)),
        (DataFrameWriter, "parquet", traced_parquet),
    ]
    with contextlib.ExitStack() as stack:
        for owner, attr, new in patches:
            stack.enter_context(mock.patch.object(owner, attr, new))
        yield


def poll_layer_times(tracer: Tracer) -> tuple[dict[str, float], int]:
    """Per-cycle mean self time of each poll layer, plus the number of
    traced cycles.  Means keep the table additive: the children's self
    times plus ``poller.residual`` equal ``poller.run_poll_cycle``.
    Prefix layers report their increment over the previous prefix."""
    cycles = tracer.per_cycle_self()
    n = len(cycles)

    def mean(name: str) -> float:
        return sum(c.get(name, 0.0) for c in cycles.values()) / n

    out = {f"{name}.s": mean(name) for name in POLL_LAYERS if name not in PREFIXES + [CYCLE]}
    out["poller.residual.s"] = mean(CYCLE)
    out[f"{CYCLE}.s"] = sum(
        s["end"] - s["start"] for s in tracer.spans if s["name"] == CYCLE
    ) / n
    prev = 0.0
    for name in PREFIXES:
        cum = mean("prefix." + name)
        out[f"{name}.s"] = cum - prev
        prev = cum
    return out, n


def spark_layer_totals(by_desc: dict[str, dict[str, float]], layers: list[str],
                       per: int) -> dict[str, float]:
    """Event-log totals per layer, divided by ``per`` (cycles or passes).
    Prefix layers report their increment over the previous prefix; the
    cycle span reports the jobs run outside its children."""
    zero = dict.fromkeys(SPARK_FIELDS, 0)
    out: dict[str, float] = {}
    prev = zero
    for name in layers:
        if name in PREFIXES:
            cum = by_desc.get("prefix." + name, zero)
            vals = {f: cum[f] - prev[f] for f in SPARK_FIELDS}
            prev = cum
        else:
            vals = by_desc.get(name, zero)
        for f in SPARK_FIELDS:
            out[f"{name}.{f}"] = vals[f] / per
    return out
