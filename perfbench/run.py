"""The repo benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload resolve --seed 1 --seconds 16 --trace 0

Run from the root of a checkout that holds the engine package
(``football_data_pipeline_spark``). It starts the engine's Spark
session, sets the workload up, warms every code path once (process
start to here is ``setup_s``), times the number of operations that
takes about ``--seconds`` on the reference box, checks every output
against the generator's ground truth, and prints
``metric <name> <value> <unit>`` lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records spans and counts around every call into an
engine layer plus Spark's event log, and reports the per-layer
metrics. Everything the run writes lives under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (trace files) in the
checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "football_data_pipeline_spark"


def _env(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and turn the event log on for traced runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp, from the
    # driver JVM or from spark-submit's launcher JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [f'--driver-java-options "{jvm_opts}"']
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        submit += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir=file://{log}",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = {
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    time.tzset()
    return env


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms
    ticks), so ``setup_s`` includes the interpreter's own start."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _rss_mb(jvm_pid: int | None) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_curate", "resolve", "ingest", "curate", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(cwd, ENGINE)):
        print(f"no {ENGINE}/ package in {cwd}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(cwd, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _env(work, bool(args.trace))
    sys.path[:0] = [cwd, HERE]

    from football_data_pipeline_spark.session import get_spark
    from tracing import Tracer, spark_counters
    import workloads

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("FATAL")
        session_s = time.perf_counter() - t0
        import pyspark

        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, tracer)
        t0 = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t0
        with workloads.TracedPipeline(tracer):
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0
            setup_s = _process_age_s()
            tracer.reset(keep=("session.start",))
            res = wl.run(args.seconds)
        rss = _rss_mb(jvm_pid)
    finally:
        if spark is not None:
            _stop(spark)

    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(res.op_s) * 1e3, "ms"),
    }
    named = {
        "peak_rss_mb": (rss, "MB"),
        "failed_share": (res.failed / max(res.attempted, 1), "ratio"),
        **res.named,
    }
    print(f"env workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={len(os.sched_getaffinity(0))} "
          f"SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} spark={pyspark.__version__} "
          f"python={platform.python_version()}")
    print(f"info session_start_s={session_s:.3f} inputs_s={inputs_s:.3f} "
          f"warmup_s={warmup_s:.3f} ops={len(res.op_s)} "
          f"op_s={','.join(f'{x:.2f}' for x in res.op_s)}")
    for name, (v, unit) in {**e2e, **named}.items():
        print(f"metric {name} {v:.6g} {unit}")

    if args.trace:
        counters = spark_counters(os.path.join(work, "eventlog"), *res.window)
        n_ops = max(len(res.op_s), 1)
        layers = {
            "session.start_s": (session_s, "s"),
            "spark.jobs_per_op": (counters["jobs"] / n_ops, "count"),
            "spark.tasks_per_op": (counters["tasks"] / n_ops, "count"),
            "spark.shuffle_bytes": (counters["shuffle_bytes"] / n_ops, "B"),
            "spark.spill_bytes": (counters["spill_bytes"] / n_ops, "B"),
            "spark.gc_ms": (counters["gc_ms"] / n_ops, "ms"),
            "spark.scheduler_delay_ms": (counters["scheduler_delay_ms"] / n_ops, "ms"),
            **res.layers,
        }
        for name, ms in sorted(tracer.self_ms().items()):
            print(f"self_ms {name} {ms:.1f}")
        for name, (v, unit) in layers.items():
            print(f"layer {name} {v:.6g} {unit}")
        out = os.path.join(cwd, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                    {"layers": layers, "end_to_end": {**e2e, **named}})
        with open(os.path.join(cwd, "BENCHMARK.json")) as f:
            wanted = [m["name"] for m in json.load(f)["per_layer"]]
        metrics = {k: layers[k] for k in wanted}
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
