"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_loop --seed 1 --seconds 15 --trace 0

Run from the repository root. The workloads are in ``workloads.py`` and
the metric names, units and bounds in ``BENCHMARK.json``; ``METRICS.md``
maps each per-layer metric to the end-to-end metric it should move.

With ``--trace 0`` the run measures the workload for ``--seconds`` and prints
the end-to-end metrics. With ``--trace 1`` it measures the same untraced
phase, then a traced phase of the same length with every layer wrapped,
and prints the per-layer metrics, the tracing overhead (traced minus
untraced medians) and the Spark event-log totals; its spans go to
``.perfbench/trace-<workload>-seed<seed>.json``.

Stdout carries a conditions line, a detail line with the workload's own
latency medians and sample counts, and, last, the result object. The exit
code is 0 only when every operation passed its correctness check. Every
file the run writes stays under ``.perfbench/`` in the working tree.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from tracing import Tracer, instrument, median, parse_event_log  # noqa: E402
from workloads import WORKLOADS, Checks, Context, PhaseAborted  # noqa: E402

DEFAULT_BASE_TIME = "2026-01-01 12:00:00"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--base-time", default=DEFAULT_BASE_TIME, help="generator base time")
    return p.parse_args(argv)


def run_conditions(args) -> dict:
    stray_java = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/comm") as f:
                stray_java += f.read().strip() == "java"
        except OSError:
            continue
    return {
        "workload": args.workload,
        "seed": args.seed,
        "base_time": args.base_time,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_1m": os.getloadavg()[0],
        "stray_java": stray_java,
        "calibration_s": calibration_s(),
    }


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Spark JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def retained_mb(spark) -> dict[str, float]:
    """Memory still held after a full collection on both sides: JVM heap,
    JVM non-heap (metaspace, code cache) and this Python process's resident
    set. Cached or persisted blocks that outlive an operation show here."""
    gc.collect()  # drops Python-side handles that pin JVM objects
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return {
        "jvm_heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python": py_kb / 1024.0,
    }


def calibration_s() -> float:
    """Seconds for a fixed pure-Python loop: how fast this box runs now."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def measure(args, work: str, out_dir: str) -> tuple[dict, dict, Checks]:
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub))
    # everything Spark, the gateway launcher and the workers write goes here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    java_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()

    t = time.perf_counter()
    import clickhousedatamocker_spark  # noqa: F401  (fails outside a checkout)
    from clickhousedatamocker_spark.session import get_spark

    import_s = time.perf_counter() - t
    nproc = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=spark_conf(work, args.trace),
    )
    start_s = time.perf_counter() - t
    checks = Checks()
    try:
        ctx = Context(spark, args.seed, args.base_time, work)
        try:
            workload = WORKLOADS[args.workload](ctx, checks)
            setup_s = time.perf_counter() - T_START
            # after the fixed set-up work, so it does not depend on how many
            # operations the timed phase fits in
            memory = retained_mb(spark)
            phase = workload.phase(args.seconds)
            if args.trace:
                tracer = Tracer(spark)
                instrument(tracer)
                try:
                    traced = workload.phase(args.seconds, tracer)
                finally:
                    tracer.unwrap_all()
        except PhaseAborted:
            return {}, {"errors": checks.errors}, checks
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": phase.rows_per_s,
            "op_s_p50": median(phase.op_s),
            "retained_mb": sum(memory.values()),
        }
        # the workload's own per-operation medians, by name, with sample counts
        detail = {
            f"{k}_p50": {"value": median(v), "unit": "s", "n": len(v)}
            for k, v in phase.samples.items()
        }
        detail["peak_rss_mb"] = {"value": peak_rss_mb(spark), "unit": "MB"}
        detail["retained_mb_parts"] = memory
        detail["samples"] = {k: [round(x, 4) for x in v] for k, v in phase.samples.items()}
        if args.trace:
            stages = tracer.stage_counts(traced.first_job, traced.end_job)
            layers = workload.layers(tracer, stages)
            layers["session.import_s"] = import_s
            layers["session.start_s"] = start_s
            layers["memory.peak_rss_mb"] = detail["peak_rss_mb"]["value"]
            layers["trace.overhead_op_s"] = median(traced.op_s) - e2e["op_s_p50"]
            layers["trace.overhead_rows_per_s"] = traced.rows_per_s - e2e["rows_per_s"]
            detail["traced"] = {k + "_p50": median(v) for k, v in traced.samples.items()}
    finally:
        stop_spark(spark)
    if args.trace:
        totals = parse_event_log(os.path.join(work, "events"), traced.first_job, traced.end_job)
        n_ops = len(traced.op_s)
        layers["spark.tasks"] = totals["tasks"] / n_ops
        layers["spark.shuffle_write_bytes"] = totals["shuffle_write_bytes"] / n_ops
        layers["spark.shuffle_read_bytes"] = totals["shuffle_read_bytes"] / n_ops
        layers["spark.executor_run_s"] = totals["executor_run_ms"] / 1000.0 / n_ops
        tracer.write(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed},
        )
    detail["errors"] = checks.errors
    return (layers if args.trace else e2e), detail, checks


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    conditions = run_conditions(args)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        values, detail, checks = measure(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"conditions": conditions}))
    print(json.dumps({"detail": detail}))
    if not values:
        print("operation failed: " + "; ".join(checks.errors), file=sys.stderr)
        return 1
    names = [m["name"] for m in wanted]
    unknown = set(values) - set(names)
    if unknown:
        raise RuntimeError(f"metrics {sorted(unknown)} are not in BENCHMARK.json")
    # a layer the workload does not reach did no work: it reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    correct = checks.failed == 0 and checks.attempted > 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
