"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Inputs come from ``--seed``; the
run sets up (Spark session, inputs, warm-up), runs the workload's rounds
until ``--seconds`` of timed ops have passed and at least the workload's
``min_rounds`` rounds ran, checks every output, and prints three JSON
lines: the host record, the detail (every named metric with its unit,
the sample counts and check results), then the result line
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log for the whole run, measures the rounds with the span
wrappers on, then the workload's extras, then one more round without the
wrappers, and reports the per-layer metrics instead; its
``trace.overhead_frac`` compares the traced rounds' CPU time with that
last untraced round's. All scratch files live under ``.perfbench_work/``
in the checkout; a run's own directory there is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the end-to-end metrics every untraced run reports, with their units:
# set-up wall time, a round's wall time, and a round's CPU seconds of the
# process tree (driver, JVM, Python workers)
END_TO_END = {"setup_s": "s", "round_s": "s", "round_cpu_s": "s"}


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def _host_record(spark, nproc: int, cores: int) -> dict:
    import pyspark

    from perfbench.procfs import mem_total_kb

    sc = spark.sparkContext
    return {
        "nproc": nproc,
        "spark_cores": cores,
        "mem_total_mb": round(mem_total_kb() / 1024.0, 1),
        "pyspark": pyspark.__version__,
        "spark": sc.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "master": sc.master,
        "spark.driver.memory": sc.getConf().get("spark.driver.memory", "1g"),
        "note": "BENCH_r01-r05 ran on a 32-vCPU host: history, not a baseline",
    }


def _session(workload: str, work: str, cores: int, trace: bool):
    from chatvector_ai_spark.session import get_spark

    extra = {"spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
             "spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 8), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit —
    also when stopping Spark fails (a SIGTERM in the middle of a py4j
    call leaves the gateway unusable)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _measure(wl, seconds: float, min_rounds: int) -> list:
    """Closed loop: whole rounds until ``seconds`` of timed ops passed and
    at least ``min_rounds`` rounds ran."""
    ops, timed, r = [], 0.0, 0
    while r < min_rounds or timed < seconds:
        batch = wl.round(r)
        ops.extend(batch)
        timed += sum(o.wall for o in batch)
        r += 1
    return ops


def _layer_task_metrics(aggs, tracer, ops, cores: int) -> dict[str, float]:
    """Event-log task metrics per pipeline layer, median over the ops."""
    from perfbench.stats import med
    from perfbench.workloads import PIPELINE_LAYERS

    out: dict[str, float] = {}
    for layer in PIPELINE_LAYERS:
        rows = []
        for o in ops:
            agg = aggs.get((layer, o.op))
            wall = tracer.op_summary(o.op).get(layer, 0.0) if o.ok else 0.0
            if agg is None or wall <= 0:
                continue
            rows.append({
                "cpu_s": agg.cpu_s,
                "busy_frac": agg.run_ms / 1000.0 / (wall * cores),
                "shuffle_bytes": agg.shuffle_bytes,
                "spill_bytes": agg.spill_bytes,
                "skew": agg.skew(),
                "python_s": agg.python_s,
                "arrow_bytes": agg.arrow_bytes,
            })
        for k in (rows[0] if rows else {}):
            out[f"{layer}.{k}"] = med([r[k] for r in rows])
    return out


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "chatvector_ai_spark", "__init__.py")):
        print(f"perfbench: no chatvector_ai_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the CPUs: its task threads, the Python workers
    # they feed, the JIT and GC threads and the driver then fit on the
    # host with room to spare, so a busy neighbour on a shared host slows
    # a run far less (under a two-core load cycling on and off, the spread
    # of kg_build's round_s over five seeds fell from 0.27 to 0.05)
    cores = max(1, nproc // 2)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, the JVM and the Python workers write inside
    # the checkout, and let the workers import the package
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
    })
    # a SIGTERM unwinds through the finally below: Spark and its JVM are
    # stopped and the scratch directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        from perfbench.procfs import cpu_steal, tree_cpu_s, vm_hwm_kb
        from perfbench.stats import failed_frac, result_line
        from perfbench.trace import Tracer
        from perfbench.workloads import Ctx, best_round

        spark = _session(args.workload, work, cores, bool(args.trace))
        _log("session up")
        tracer = Tracer(spark.sparkContext, enabled=False)
        wl = WORKLOADS[args.workload](Ctx(spark, tracer, work, args.seed))
        wl.setup()
        setup_s = time.perf_counter() - _T0
        setup_cpu_s = tree_cpu_s()
        _log("setup done")

        steal0 = cpu_steal()
        extra, reference = [], []
        if args.trace:
            from perfbench.workloads import instrument

            patches = instrument(tracer)
            tracer.enabled = True
            try:
                ops = _measure(wl, args.seconds, wl.min_rounds)
                extra = wl.extras(ops[-1].round + 1)
            finally:
                tracer.enabled = False
                patches.restore()
            # the overhead reference: one more round, untraced (same
            # process, inputs and event log; being the warmest round, it
            # overstates the overhead, never hides it)
            reference = wl.round(ops[-1].round + 2)
        else:
            ops = _measure(wl, args.seconds, wl.min_rounds)
        steal1 = cpu_steal()
        every = ops + extra + reference
        _log(f"measured {len(every)} ops")
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb()) / 1024.0
        host = _host_record(spark, nproc, cores)
        attempted = len(every)
        round_s, round_cpu_s = best_round(ops), best_round(ops, "cpu")
        failed = sum(1 for o in every if not o.ok)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "setup_s": {"value": setup_s, "unit": "s"},
            "setup_cpu_s": {"value": setup_cpu_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            "failed_frac": {"value": failed_frac(attempted, failed), "unit": "ratio"},
            "round_s": {"value": round_s, "unit": "s"},
            "round_cpu_s": {"value": round_cpu_s, "unit": "s"},
            "rounds": len({o.round for o in ops}),
            "steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "ops": [[o.kind, o.name, o.round, round(o.wall, 4), round(o.cpu, 2), o.ok]
                    for o in every],
            "errors": [o.error for o in every if o.error][:5],
            **wl.detail(ops + extra),
        }
        if args.trace:
            from perfbench.eventlog import fold_events, read_events
            from perfbench.workloads import PER_LAYER_METRICS

            per_layer = wl.per_layer(ops + extra)
            jvm = spark.sparkContext._jvm
            spark.stop()  # flushes and closes the event log
            aggs = fold_events(read_events(os.path.join(work, "eventlog"), jvm))
            per_layer.update(_layer_task_metrics(aggs, tracer, ops, cores))
            per_layer["trace.overhead_frac"] = round_cpu_s / best_round(reference, "cpu") - 1.0
            metrics = {k: (per_layer.get(k, 0.0), unit) for k, unit in PER_LAYER_METRICS.items()}
        else:
            values = {"setup_s": setup_s, "round_s": round_s, "round_cpu_s": round_cpu_s}
            metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
        _stop(spark)
        spark = None
        _log("stopped")
        print(json.dumps({"host": host}))
        print(json.dumps({"detail": detail}, default=str))
        print(result_line(failed == 0, attempted, failed, metrics))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                _stop(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
