"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The workload's inputs are generated from
the seed (and cached per seed under ``.perfbench_work/``), Spark starts
as ``local[<cores>]`` through the package's ``session.get_spark``, and
the closed loop runs for ``--seconds``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics traced). The exit code
is 1 when a correctness check fails and 2 when the package is missing.

Set-up is done three times per run (stop the session, start it again)
and ``setup_s`` is the median; the first sample also pays process and
JVM start. A traced run alternates untraced and traced ops, reports the
per-layer medians over the traced ops, and writes its spans to
``.perfbench_work/trace/``; ``rollup.py`` prints a written trace again.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import statistics
import sys
import time
import traceback

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "precios_nexo_sperant_etl_spark"
SETUPS = 3
DRIVER_HEAP = "2g"
WORKLOADS = {"etl_refresh": "etl", "registry_suite": "suite"}
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("peak_rss_mb", "MB"))
PER_LAYER = {
    "session.start_s": "s", "excel.read_s": "s", "excel.rows": "count",
    "ingest.fanin_s": "s", "ingest.files_ok_frac": "ratio",
    "refpipe.build_s": "s", "sinks.write_s": "s", "sinks.bytes_written": "bytes",
    "kpi.doc_s": "s", "registry.construct_s": "s",
    "registry.construct_jobs": "count", "registry.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "trace.overhead_frac": "ratio",
}


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _environment(work: str) -> None:
    """Keep every file Spark, Python workers and temp files write inside
    the checkout, and put the repository root on the Python workers'
    path: this process's ``sys.path`` does not reach them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers start after this; a fixed hash seed gives every run
    # the same dict and set layouts in them.
    os.environ["PYTHONHASHSEED"] = "0"
    # A fixed heap (-Xms = -Xmx) keeps the JVM's resident set from
    # depending on when G1 decides to grow the heap.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell"])
    sys.path.insert(0, ROOT)


def _warm_workers(spark, modules: tuple[str, ...]) -> None:
    """Start the Python worker daemon and one worker per core, and import
    in each worker the modules the workload's tasks unpickle."""
    def load(it):
        for m in modules:
            importlib.import_module(m)
        return it

    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(4 * n), 4 * n).mapPartitions(load).collect()


def _start(wl, inputs, cores: int):
    """One set-up: session, first action, worker warm-up, workload set-up."""
    from precios_nexo_sperant_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cores)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    _warm_workers(spark, wl.WORKER_MODULES)
    return spark, wl.setup(spark, inputs), session_s


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the JVM leaves when its stdin, held by this process, closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _guarded(fn, *args) -> list[str]:
    """Run a warm-up or check step; an exception is a failed check."""
    try:
        return fn(*args)
    except Exception as ex:  # noqa: BLE001 - reported as a failed check
        traceback.print_exc()
        return [f"{fn.__module__}.{fn.__name__} raised {type(ex).__name__}: {ex}"]


def _timed_loop(wl, state, spark, seconds: float, trace: bool):
    """Closed loop of ops for ``seconds`` (at least one op).
    Traced runs alternate untraced and traced ops and go on until two
    traced ops lie around an untraced one other than op0."""
    on = harness.Tracer(spark, True)
    off = harness.Tracer(None, False)
    run = {"walls": [], "traced_walls": [], "traced": [], "results": [],
           "attempted": 0, "failed": 0, "tracer": on}
    begin = time.perf_counter()
    i = 0
    while True:
        tracing = trace and i % 2 == 1
        op_id = f"op{i}"
        t0 = time.perf_counter()
        try:
            res = wl.op(state, on if tracing else off, op_id)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc()
            res = {"attempted": 1, "failed": 1}
        wall = time.perf_counter() - t0
        run["attempted"] += res.get("attempted", 1)
        run["failed"] += res.get("failed", 0)
        run["results"].append(res)
        run["traced_walls" if tracing else "walls"].append(wall)
        if tracing:
            layers = harness.spark_counters(spark, on.group_ids(op_id))
            layers.update(res.get("layers", {}))
            run["traced"].append(layers)
        i += 1
        if (time.perf_counter() - begin >= seconds
                and (len(run["traced_walls"]) >= 2 or not trace)):
            return run


def _layer_metrics(traced: list[dict], overhead: float, session_s: float) -> dict:
    """Median over the traced ops of each per-layer value; a layer the
    workload never calls reads 0."""
    out = {}
    for name in PER_LAYER:
        vals = [t[name] for t in traced if name in t]
        out[name] = statistics.median(vals) if vals else 0.0
    out["session.start_s"] = session_s
    out["trace.overhead_frac"] = overhead
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    _environment(work)
    import pyspark

    wl = importlib.import_module(WORKLOADS[args.workload])
    cores = len(os.sched_getaffinity(0))

    g0 = time.perf_counter()
    inputs = wl.prepare(work, args.seed)
    gen_s = time.perf_counter() - g0

    setups, sessions = [], []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark, state, session_s = _start(wl, inputs, cores)
        took = time.perf_counter() - t0
        setups.append(_process_age() - gen_s if k == 0 else took)
        sessions.append(session_s)
        if k < SETUPS - 1:
            spark.stop()

    w0 = time.perf_counter()
    problems = _guarded(wl.warmup, state)
    warmup_s = time.perf_counter() - w0
    run = _timed_loop(wl, state, spark, args.seconds, bool(args.trace))
    problems += _guarded(wl.check, state, run["results"])
    rss = harness.peak_rss_mb()
    labels = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "spark": spark.version, "pyspark": pyspark.__version__,
              "ops": len(run["walls"]), "traced_ops": len(run["traced_walls"]),
              "setups_s": setups, "inputs_s": gen_s, "warmup_s": warmup_s,
              "walls_s": run["walls"], "traced_walls_s": run["traced_walls"]}
    _shutdown(spark)

    print(json.dumps({"labels": labels}))
    for p in problems:
        print(f"CHECK FAILED: {p}")
    if args.trace:
        spans = run["tracer"].spans
        # op0 is left out: for etl_refresh it is the JVM's first refresh.
        # The traced ops 1 and 3 lie around the untraced op 2.
        overhead = (statistics.median(run["traced_walls"])
                    / statistics.median(run["walls"][1:]) - 1)
        metrics = _layer_metrics(run["traced"], overhead, statistics.median(sessions))
        path = harness.write_trace(work, args.workload, args.seed, spans)
        print(harness.rollup(spans))
        print(f"trace written to {os.path.relpath(path, ROOT)}")
        out = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
    else:
        values = {"setup_s": statistics.median(setups),
                  "pass_s": statistics.median(run["walls"]), "peak_rss_mb": rss}
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not problems, "attempted": run["attempted"],
                      "failed": run["failed"], "metrics": out}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
