"""Benchmark for legend_community_delta_spark: one command, one workload.

    python3 perfbench/run.py --workload legend_ingest_serve --seed 1 --seconds 5 --trace 0

Run from the repository root.  The workloads (see ``METRICS.md``):

* ``legend_ingest_serve`` -- validated, versioned batch ingest, then
  compiled metadata and query requests (legend_ingest_serve.py);
* ``curation_batch``      -- a pipeline of curation operators (curation.py).

One process starts Spark at ``local[<cores>]`` and sets the workload up
three times: a new session, its views and model, and a Python worker
probe.  The first set-up also launches the JVM, the SparkContext and the
worker daemon; ``setup_s`` is the median, and every set-up's time is in
the run stamp.  A warm-up that is the same on every
commit follows, then the timed closed loop of at least ``--seconds``,
then the output checks.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` repeats the timed loop with spans on and prints the
per-layer metrics, the tracing overhead, and writes every span to
``.perfbench/traces/``.  The last line of stdout is the JSON result; the
exit code is 1 when an output check fails and 2 when the program cannot
be loaded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

STARTED = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "legend_community_delta_spark"
SETUP_REPEATS = 3
# Seconds from process start after which a run is stopped and fails: a
# run must end within 180 s, and the kill and exit take under a second.
DEADLINE_S = 175


def _declared() -> tuple[dict, dict]:
    """End-to-end and per-layer metric names with their units, as
    declared in ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def _load_program():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import importlib
    pkg = importlib.import_module(PACKAGE)
    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"{PACKAGE} imported from {where}, not from {ROOT}")
    return pkg


WORKLOADS = ["legend_ingest_serve", "curation_batch"]


def _workload(name: str):
    from perfbench.curation import CurationBatch
    from perfbench.legend_ingest_serve import LegendIngestServe
    return {w.name: w for w in (LegendIngestServe, CurationBatch)}[name]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A quarter of RAM, between 1 and 4 GiB."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(gib // 4)))}g"


def _session(work: str):
    from pyspark.sql import SparkSession
    n = _cores()
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.driver.memory", _driver_memory())
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.default.parallelism", str(n))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _spawn_python_worker(spark) -> None:
    """Start the Python worker daemon (a one-row ``mapInPandas``)."""
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _loadavg() -> list[float]:
    one, five, _fifteen = os.getloadavg()
    return [round(one, 2), round(five, 2)]


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a contended run shows here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _watchdog(work: str) -> threading.Timer:
    """Past :data:`DEADLINE_S`, kill the JVM, remove *work* and exit 3,
    even when the main thread is stuck in a call that never returns."""
    def expire():
        from pyspark import SparkContext
        _log(f"run exceeded {DEADLINE_S} s; stopping")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)
    timer = threading.Timer(DEADLINE_S - (time.monotonic() - STARTED), expire)
    timer.daemon = True
    timer.start()
    return timer


def run(args) -> tuple[dict, bool]:
    import pyspark

    from perfbench import datagen as G
    from perfbench import trace as T

    stamp = {"workload": args.workload, "seed": args.seed, "cpus": _cores(),
             "loadavg_start": _loadavg(), "pyspark": pyspark.__version__,
             "driver_memory": _driver_memory()}
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    # every scratch file Python, the JVM and Spark write stays in the checkout
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # also for the launcher JVM, and no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tracer = T.Tracer(enabled=False, run_id=f"{args.workload}-{args.seed}")
    cls = _workload(args.workload)
    spark = None
    watchdog = _watchdog(work)
    try:
        wl = cls(args.seed, work, tracer)
        failures: list[str] = []
        # self-check: the same seed gives the same inputs
        if G.fingerprint(cls.generate(args.seed)) != G.fingerprint(wl.inputs):
            failures.append("inputs differ between two generations from one seed")
        stamp["input_rows"] = wl.input_rows()

        setups = []
        tracer.enabled = bool(args.trace)
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            spark = _session(work) if spark is None else spark.newSession()
            tracer.attach(spark)
            wl.setup(spark)
            _spawn_python_worker(spark)
            setups.append(time.perf_counter() - t)
        stamp["setup_runs_s"] = setups
        tracer.enabled = False
        t = time.perf_counter()
        wl.warmup()
        stamp["warmup_s"] = time.perf_counter() - t

        cpu = _cpu_ticks()
        res = wl.run(args.seconds)
        stamp["steal_share"] = _steal_share(cpu, _cpu_ticks())
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        stamp["peak_rss_mb"] = _rss_mb(os.getpid()) + (_rss_mb(jvm.pid) if jvm else 0.0)
        metrics = {"setup_s": statistics.median(setups),
                   "request_p50_ms": res["request_p50_ms"],
                   "request_p75_ms": res["request_p75_ms"],
                   "items_per_s": res["items_per_s"]}
        attempted = res["attempted"]
        if args.trace:
            tracer.enabled = True
            traced = wl.run(args.seconds)
            tracer.enabled = False
            layers = wl.layers()
            layers["process.peak_rss_mb"] = stamp["peak_rss_mb"]
            layers["trace.overhead_share"] = (
                traced["wall_s"] / traced["attempted"]
                / (res["wall_s"] / res["attempted"]) - 1)
            attempted += traced["attempted"]

        t = time.perf_counter()
        failures += wl.check()
        stamp["check_s"] = time.perf_counter() - t
        if getattr(wl, "recall", None):
            stamp["pair_recall"] = wl.recall
        stamp["loadavg_end"] = _loadavg()
        for f in failures[:20]:
            _log("CHECK FAILED:", f)
        e2e_units, layer_units = _declared()
        if args.trace:
            # a layer this workload does not cross did no work: 0
            layers = {k: layers.get(k, 0) for k in layer_units}
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                      f"{args.workload}-seed{args.seed}.json"),
                         {"stamp": stamp, "end_to_end": metrics, "layers": layers})
            out, units = layers, layer_units
        else:
            out, units = metrics, e2e_units
        stamp["wall_s"] = time.monotonic() - STARTED
        _log("stamp:", json.dumps(stamp))
        _log("end-to-end:", json.dumps(metrics))
        result = {"correct": not failures, "attempted": attempted,
                  "failed": min(len(failures), attempted),
                  "metrics": {k: {"value": out[k], "unit": u}
                              for k, u in units.items()}}
        return result, not failures
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            watchdog.cancel()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _load_program()
    except ImportError as e:
        _log(f"cannot load the program under test: {e}")
        return 2
    result, ok = run(args)
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
