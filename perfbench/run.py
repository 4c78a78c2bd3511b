"""Poll-cycle and registry-mix benchmark of the trip-cancellation engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload poll-sf0.1 --seed 1 --seconds 10 --trace 0

Every workload is a closed loop in one driver process on
``local[<cpus>]``: each timed operation starts when the previous one has
finished.  The tables are the repo's testdata (``inputs``), the seed
picks the poller's clock and the mix order, the
outputs are checked against the DuckDB oracles, and the last stdout line
is one JSON object: end-to-end metrics with ``--trace 0``, the per-layer
table with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs
from stats import cpu_ticks, drift, peak_rss_bytes, process_tree, steal_share, tail
from workloads import MIN_CYCLES, MIN_PASSES, Mix, Poller, Run, timed_loop

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
PKG = "transitdata_omm_cancellation_source_spark"

#: workload -> dataset scale; poll-sf1 is not in BENCHMARK.json (see README)
WORKLOADS = {"poll-sf0.1": "sf0.1", "registry-mix": "sf0.01", "poll-sf1": "sf1"}
#: the engine's driver heap (its own default is 8g), pinned so the peak
#: memory of a run does not depend on the host or the environment
DRIVER_MEMORY = "2g"
E2E = [
    ("setup_s", "s"),
    ("cycle_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]


def _fail(msg: str) -> None:
    print(msg, file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    needed = [ROOT / PKG / "__init__.py", ROOT / "bench.py",
              ROOT / "scripts" / "make_scale_data.py"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.is_file()]
    if missing:
        _fail("perfbench must run from a checkout of the engine; missing: "
              + ", ".join(missing))


def configure_env(run_dir: pathlib.Path, event_log: pathlib.Path | None) -> int:
    """Pin cores and keep every file Spark, the JVM and the Python
    workers write inside the run directory.  Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # -Xms = -Xmx: a heap that starts small is resized by the collector
    # through the first minutes of a run, which made the cycle time of a
    # run depend on when that settled
    submit = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
              "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"]
    if event_log is not None:
        event_log.mkdir()
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{event_log}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    sys.path.insert(0, str(ROOT))
    return cpus


def start_spark():
    from transitdata_omm_cancellation_source_spark.artifacts import ARTIFACT_DIR_CONF
    from transitdata_omm_cancellation_source_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # kept across runs, as a deployment keeps its disk tier: the first run
    # in a checkout builds it, later runs load it (the summary line says
    # which; README)
    spark.conf.set(ARTIFACT_DIR_CONF, str(WORK / "artifacts"))
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    tree = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def run_poll(spark, sf_dir, run_dir, a, run: Run, t0: float) -> dict:
    poller = Poller(spark, sf_dir, run_dir, a.seed)
    poller.warm_up()
    setup_s = time.perf_counter() - t0
    first = len(poller.history)
    ticks = cpu_ticks()
    walls = timed_loop(lambda: run.attempt(poller.cycle), a.seconds, MIN_CYCLES)
    steal, peak = steal_share(ticks, cpu_ticks()), peak_rss_bytes()
    poller.check(run, first)
    return {"setup_s": setup_s, "walls": [w for w in walls if w is not None],
            "peak": peak, "steal": steal}


def run_mix(spark, sf_dir, a, run: Run, t0: float) -> dict:
    mix = Mix(spark, sf_dir, a.seed)
    mix.checked_pass(run)
    setup_s = time.perf_counter() - t0
    ticks = cpu_ticks()
    walls = timed_loop(lambda: mix.timed_pass(run), a.seconds, MIN_PASSES)
    return {"setup_s": setup_s, "walls": walls, "peak": peak_rss_bytes(),
            "steal": steal_share(ticks, cpu_ticks())}


def summarize(res: dict) -> dict:
    from transitdata_omm_cancellation_source_spark.artifacts import SERVE_EVENTS

    walls = res["walls"]
    value, pct, n = tail(walls)
    built = sum(e["served"] == "built" for e in SERVE_EVENTS)
    # tail and drift are printed, not reported: a run holds too few
    # operations for either to be more than its extreme samples (README)
    print(f"setup {res['setup_s']:.3f}s (artifacts built: {built}); operations: n={n} "
          f"p50={statistics.median(walls):.4f}s cycle_tail_s=p{pct:.1f}={value:.4f}s "
          f"({n} samples) cycle_drift={drift(walls):.4f}; "
          f"cpu steal while timed {100 * res['steal']:.1f}%")
    return {
        "setup_s": res["setup_s"],
        "cycle_p50_s": statistics.median(walls),
        "peak_rss_mb": res["peak"] / 2**20,
    }


def main(argv=None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    check_checkout()

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = run_dir / "eventlog" if a.trace else None
    cpus = configure_env(run_dir, event_log)
    from bench import read_load1

    load1 = read_load1()
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cpus={cpus} load1={load1}")
    try:
        sf_dir, derive_s = inputs.dataset(ROOT, WORK / "data", WORKLOADS[a.workload])
        mix_dir, _ = inputs.dataset(ROOT, WORK / "data", WORKLOADS["registry-mix"])
    except FileNotFoundError as e:
        _fail(str(e))
    if derive_s:
        print(f"derived {sf_dir} in {derive_s:.2f}s")
    run = Run()
    spark = start_spark()
    try:
        if a.trace:
            import traced

            metrics = traced.run(spark, sf_dir, mix_dir, run_dir, a, run)
        elif a.workload.startswith("poll"):
            metrics = run_poll(spark, sf_dir, run_dir, a, run, t0)
        else:
            metrics = run_mix(spark, sf_dir, a, run, t0)
    finally:
        stop_spark(spark)
    if a.trace:
        metrics = traced.finish(metrics, event_log, WORK / "traces" / f"{a.workload}-seed{a.seed}.json")
        units = traced.UNITS
    else:
        metrics = summarize(metrics)
        units = dict(E2E)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
