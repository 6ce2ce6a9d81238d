"""StreamDS benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: stream_rainstorm, interactive (see
perfbench/README.md). With --trace 0 the result carries the
end-to-end metrics named in BENCHMARK.json; with --trace 1 it carries the
per-layer metrics, and the spans are written to .perfbench_out/.

The run pins SPARK_GRAFT_CPUS to the number of usable cores, keeps every
generated input, checkpoint, sink and Spark scratch dir in a temporary dir
under .perfbench_work/ in the checkout, and deletes it at the end. The last
line of standard output is the result; the line before it is a detail
record (core counts, sample counts, the tail percentile used).
"""

from __future__ import annotations

import argparse
import faulthandler
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("stream_rainstorm", "interactive")
SESSION_RESTARTS = 3
WATCHDOG_S = 170  # the run must end within 180 s
HEAP_SETTLE_S = 0.3  # pause between full GCs while the heap reading settles
HEAP_MAX_GCS = 8
SPAN_COST_SAMPLES = 2000
HOST_REF_REPS = 7
HOST_REF_LOOP = 300_000


def _pin_environment(workdir: str, nproc: int) -> None:
    """Everything the program and Spark write goes under `workdir`; the
    session uses exactly the cores this process may run on."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} pyspark-shell"
    )


def _start_session():
    from streamds_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.range(1).count()
    return spark


def _stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _live_heap_mb(spark) -> float:
    """JVM heap in use after a full GC: what the workload keeps live. Python
    drops its JVM references first. Spark's ContextCleaner frees the blocks
    of RDDs, shuffles and broadcasts a GC found unreachable on its own
    thread, so collect until two readings agree within 1 MB."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(HEAP_MAX_GCS):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if last is not None and abs(used - last) < 1.0:
            break
        last = used
        time.sleep(HEAP_SETTLE_S)
    return used


def _host_ref_ms() -> float:
    """Median time of a fixed single-thread Python loop: the host's speed
    when the run starts. Shared hosts drift by tens of percent over minutes,
    and this tells a slow host apart from a slow program."""
    xs = []
    for _ in range(HOST_REF_REPS):
        t = time.perf_counter()
        acc = 0
        for i in range(HOST_REF_LOOP):
            acc += i * i
        xs.append((time.perf_counter() - t) * 1000)
    return statistics.median(xs)


def _span_cost_s() -> float:
    from perfbench.spans import Tracer

    tr = Tracer()
    t = time.perf_counter()
    for _ in range(SPAN_COST_SAMPLES):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t) / SPAN_COST_SAMPLES


def _measure(workload: str, workdir: str, seed: int, seconds: float, tracer, nproc: int) -> dict:
    """Start the session (once with the JVM, then SESSION_RESTARTS more
    times), run the workload, and stop everything it started."""
    from perfbench import queries, streams
    from perfbench.harness import Ctx, RssSampler, cpu_steal_ticks

    run = {
        "stream_rainstorm": streams.stream_rainstorm,
        "interactive": queries.interactive,
    }[workload]
    rss = RssSampler().start() if tracer.enabled else None
    steal0, total0 = cpu_steal_ticks()
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_session()
        out = {"jvm_launch_s": time.perf_counter() - t, "starts": []}
        for _ in range(SESSION_RESTARTS):
            spark.stop()
            t = time.perf_counter()
            spark = _start_session()
            out["starts"].append(time.perf_counter() - t)
        spark.sparkContext.setLogLevel("ERROR")
        out["default_parallelism"] = spark.sparkContext.defaultParallelism
        out["res"] = run(Ctx(spark, workdir, seed, seconds, tracer, nproc))
        out["heap_mb"] = _live_heap_mb(spark)
    finally:
        try:
            if spark is not None:
                _stop_session(spark)
        finally:
            out_peak = rss.stop() if rss else 0.0
    steal1, total1 = cpu_steal_ticks()
    out["peak_mb"] = out_peak
    out["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(ROOT, "streamds_spark", "__init__.py")):
        print(f"streamds_spark/ not found under {ROOT}", file=sys.stderr)
        return 1
    if sys.path and os.path.abspath(sys.path[0] or ".") == os.path.join(ROOT, "perfbench"):
        sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    else:
        sys.path.insert(0, ROOT)

    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)
    # a terminated run still stops Spark and deletes its temporary dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    nproc = len(os.sched_getaffinity(0))
    host_ref_ms = _host_ref_ms()
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        # before anything imports streamds_spark.session, which reads the pin
        _pin_environment(workdir, nproc)
        from perfbench.harness import median, tail
        from perfbench.spans import NullTracer, Tracer

        tracer = Tracer() if args.trace else NullTracer()
        meas = _measure(args.workload, workdir, args.seed, args.seconds, tracer, nproc)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".perfbench_work"))
        except OSError:
            pass
    res, starts = meas["res"], meas["starts"]

    lat_p50 = median(res.latencies_ms)
    lat_tail, tail_name = tail(res.latencies_ms)
    values = {
        "setup_s": statistics.median(starts),
        "latency_p50_ms": lat_p50,
        "latency_tail_ms": lat_tail,
        "throughput_per_s": res.throughput_per_s,
        "recovery_s": res.recovery_s,
        "result_s": res.result_s,
        "heap_live_mb": meas["heap_mb"],
        "success_rate": (res.attempted - res.failed) / max(1, res.attempted),
    }
    if args.trace:
        layers = dict(res.layers)
        layers.update({
            "session.jvm_launch_s": meas["jvm_launch_s"],
            "session.start_s": statistics.median(starts),
            "mem.peak_rss_mb": meas["peak_mb"],
            "env.nproc": nproc,
            "env.default_parallelism": meas["default_parallelism"],
            "trace.latency_p50_ms": lat_p50,
            "trace.overhead_ms": (tracer.overhead_s + len(tracer.spans) * _span_cost_s()) * 1000,
        })
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        declared = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0) for m in declared}
    else:
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "default_parallelism": meas["default_parallelism"],
        "latency_samples": len(res.latencies_ms),
        "tail_percentile": tail_name,
        "error_rate": res.failed / max(1, res.attempted),
        "cpu_steal_share": meas["steal_share"],
        "host_ref_ms": host_ref_ms,
        **res.details,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": bool(res.correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
