"""Benchmark entry point.

    python3 perfbench/run.py --workload api_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates the input tables from
``--seed`` under ``.perfbench/`` (where every temporary, Spark local
and event-log file also goes), sets up the Spark session, drives one
workload, checks every result, and prints two JSON lines: the full
record (host context, details, per-layer numbers in a traced run), then
the result line ``{"correct", "attempted", "failed", "metrics"}``.
Exits 1 when a result is wrong, 2 when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, layers, procstat, trace, workloads  # noqa: E402

SETUP_SAMPLES = 5
ETL_GAP = ("plans.xrpl_etl.build_warehouse is not measured: it replays the "
           "reference's mock ledger JSON files, which this repository does not contain")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _purge_engine_modules() -> None:
    for name in list(sys.modules):
        if name == trace.PACKAGE or name.startswith(trace.PACKAGE + "."):
            del sys.modules[name]


def _start(app: str):
    """Start the session and import the registry: (spark, registry, (s, s))."""
    t0 = time.perf_counter()
    spark = importlib.import_module(f"{trace.PACKAGE}.session").get_spark(app)
    t1 = time.perf_counter()
    registry = importlib.import_module(f"{trace.PACKAGE}.plans.registry").all_queries()
    return spark, registry, (t1 - t0, time.perf_counter() - t1)


def warm_setups(app: str) -> list:
    """Repeat set-up SETUP_SAMPLES times on the running JVM, each with a
    fresh SparkContext and freshly imported engine modules.  Runs after
    the workload so that it does not disturb the workload's cold pass."""
    samples = []
    for _ in range(SETUP_SAMPLES):
        _purge_engine_modules()
        spark, _, sample = _start(app)
        spark.stop()
        samples.append(sample)
    return samples


def _stop_jvm() -> None:
    """Close the py4j gateway and wait until the JVM (and with it the
    Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on end of input
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _environment(work: str, traced: bool) -> None:
    """Keep every file Spark, the JVM and the engine write inside ``work``."""
    tmp, local, logs = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, logs):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Every JVM, the spark-submit launcher's too: temp files under work,
    # no hsperfdata files in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = []
    if traced:
        for conf in ("spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{logs}",
                     "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    traced = bool(args.trace)

    if not (os.path.isdir(os.path.join(ROOT, trace.PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))):
        print(f"perfbench: engine sources ({trace.PACKAGE}/, tests/oracle.py) "
              f"not found under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    print(f"perfbench: {ETL_GAP}", file=sys.stderr)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        return _run(args, traced, spec, base, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, traced: bool, spec: dict, base: str, work: str) -> int:
    run, params = workloads.WORKLOADS[args.workload]
    _environment(work, traced)
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    tables = datagen.write(data, args.seed, **params)
    datagen_s = time.perf_counter() - t0

    load_before, steal_before = os.getloadavg(), procstat.steal_seconds()
    calib_before = procstat.calibration_ms()
    app = f"perfbench-{args.workload}"
    spark, registry, cold_setup = _start(app)
    tracer = trace.Tracer(traced)
    progress = None
    if traced:
        trace.install_layer_hooks(tracer, registry)
        progress = trace.StreamProgress(spark)
    ctx = workloads.Context(spark, data, args.seed, args.seconds, tracer, registry, tables)
    outcome = run(ctx)

    per_layer = None
    if traced:
        time.sleep(1.0)  # listener events arrive asynchronously
        caching = importlib.import_module(f"{trace.PACKAGE}.functions.caching")
        tracked = caching.tracked_count()
    spark.stop()
    if traced:
        jobs = trace.job_accounting(trace.read_event_log(os.path.join(work, "eventlog")))
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        per_layer = layers.summarize(
            tracer.spans, outcome.counters, jobs, [], outcome.units,
            outcome.window, cores, tracked)
        stream = outcome.detail.get("stream")
        if stream:
            lo, hi = stream["window"]
            stream_layer = layers.summarize(
                tracer.spans, stream["counters"], jobs,
                [e for e in progress.events if lo <= e["at"] <= hi + 1.0],
                1, stream["window"], cores, tracked, prefix="S")
            per_layer.update({k: v for k, v in stream_layer.items()
                              if k.startswith(layers.STREAMING)})
            stream["per_layer"] = stream_layer
    warm = warm_setups(app)
    setup = {"cold_s": list(cold_setup), "warm_s": warm}
    e2e = {"setup_s": statistics.median(a + b for a, b in warm), **outcome.metrics}
    if traced:
        per_layer["session.get_spark_s"] = statistics.median(a for a, _ in warm)
        per_layer["plans.registry.import_s"] = statistics.median(b for _, b in warm)

    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": traced,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_before": list(load_before), "loadavg_after": list(os.getloadavg()),
            "steal_s": procstat.steal_seconds() - steal_before,
            "calibration_ms": [calib_before, procstat.calibration_ms()],
            "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        },
        "inputs": {"tables": tables, **params, "datagen_s": datagen_s},
        "setup": setup,
        "unmeasured": {"plans.xrpl_etl": ETL_GAP},
        "end_to_end": e2e,
        "unit": outcome.unit, "units": outcome.units,
        "attempted": outcome.attempted, "failures": outcome.failures,
        "detail": outcome.detail,
    }
    if traced:
        record["per_layer"] = per_layer
        record["trace_overhead"] = _overhead(base, args, e2e)

    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    declared = spec["per_layer"] if traced else spec["end_to_end"]
    values = per_layer if traced else e2e
    result = {
        "correct": not outcome.failures,
        "attempted": outcome.attempted,
        "failed": min(len(outcome.failures), outcome.attempted),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _overhead(base: str, args, traced_e2e: dict) -> dict | None:
    """Traced minus untraced, per end-to-end metric, when an untraced run
    of the same workload and seed left its record here."""
    path = os.path.join(base, "records", f"{args.workload}-s{args.seed}-t0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        plain = json.load(f)["end_to_end"]
    return {k: traced_e2e[k] - plain[k] for k in traced_e2e if k in plain}


if __name__ == "__main__":
    sys.exit(main())
