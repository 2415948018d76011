#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload csv_etl --seed 1 --seconds 8 --trace 0

Run from the repository root. The process generates the seed's inputs
(cached under ``.perfbench/cache``), then starts three Spark sessions,
each in a fresh JVM, to time set-up. The last session runs the
workload as a closed loop: one cold operation, a fixed warm-up, then
warm operations until ``--seconds`` have passed. Outputs are checked
after the timed region. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's details (load average, master, every operation).

``--trace 1`` starts two sessions instead and runs the workload in
both: untraced in the first, then traced in the second, with Spark's
event log on and spans around the layers' entry points. It reports
the per-layer metrics instead of the end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

PACKAGE = "ais_data_pipeline_spark"
MIN_MEASURED = 3
#: measured operations per side of trace.overhead_frac (untraced, traced)
MIN_MEASURED_TRACED = 4
MIB = 1024 * 1024

END_TO_END = ("setup_s", "cold_s", "op_p50_s", "rows_per_s", "compression_x")

#: entry points wrapped in spans by the traced run
TRACE_TARGETS = [
    f"{PACKAGE}.session:get_spark",
    f"{PACKAGE}.sources.csv:read_csv",
    f"{PACKAGE}.operators.profiling:plan_tightening",
    f"{PACKAGE}.plans.rent_contracts:run_pipeline",
    f"{PACKAGE}.plans.curation:run_curation",
    f"{PACKAGE}.operators.dedup:minhash_near_dup",
    f"{PACKAGE}.checkpointing:materialize",
    f"{PACKAGE}.streaming.incremental_dedup:build_dedup_index",
    f"{PACKAGE}.streaming.incremental_dedup:dedup_and_append_batch",
]

#: per-layer metrics: (span, fields, phase). "measured" takes the median
#: over warm operations, "cold" the first operation (the bootstrap).
LAYER_SPANS = [
    ("session.get_spark", ("wall_s",), "setup"),
    ("sources.csv.read_csv", ("wall_s",), "measured"),
    ("operators.profiling.plan_tightening", ("wall_s", "jobs", "task_cpu_s"), "measured"),
    (
        "plans.rent_contracts.run_pipeline",
        ("wall_s", "self_s", "jobs", "driver_gap_s", "task_cpu_s", "scan_passes",
         "output_mib", "gc_s"),
        "measured",
    ),
    (
        "plans.curation.run_curation",
        ("wall_s", "self_s", "jobs", "driver_gap_s", "task_cpu_s", "shuffle_write_mib",
         "spill_mib"),
        "cold",
    ),
    ("operators.dedup.minhash_near_dup", ("wall_s",), "cold"),
    ("checkpointing.materialize", ("calls", "wall_s", "jobs", "shuffle_write_mib"), "cold"),
    ("streaming.incremental_dedup.build_dedup_index", ("wall_s", "jobs", "output_mib"), "cold"),
    (
        "streaming.incremental_dedup.dedup_and_append_batch",
        ("wall_s", "self_s", "jobs", "driver_gap_s", "task_cpu_s"),
        "measured",
    ),
]
EXTRA_LAYER_METRICS = (
    "streaming.index_files", "streaming.index_mib", "unattributed.jobs", "trace.overhead_frac",
)
UNITS = {
    "s": "s", "mib": "MiB", "jobs": "count", "calls": "count", "passes": "count",
    "files": "count", "frac": "fraction", "x": "x", "per_s": "1/s",
}


def layer_metric_names() -> list[str]:
    return [f"{span}.{f}" for span, fields, _ in LAYER_SPANS for f in fields] + list(
        EXTRA_LAYER_METRICS
    )


def unit_of(name: str) -> str:
    for suffix in sorted(UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return UNITS[suffix]
    raise ValueError(name)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- sessions -----------------------------------------------------------


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(cores: int, conf: dict[str, str]):
    """A SparkSession in a fresh JVM; returns it with the seconds
    ``get_spark`` took (JVM launch, SparkContext, session confs)."""
    from ais_data_pipeline_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    return spark, time.perf_counter() - t0


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def peak_rss_mib(pid: int) -> float:
    """VmHWM of a process, read from /proc (psutil is not installed)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited, so the
    next session starts cold."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- the closed loop -----------------------------------------------------


def run_loop(workload, spark, seconds: float, min_measured: int = MIN_MEASURED) -> list:
    from workloads import Op

    ops: list[Op] = []

    def run(phase: str, index: int, fn) -> None:
        op = Op(phase, index, start=time.time())
        try:
            fn(spark, op)
            op.completed = True
        except Exception:  # an operation failure is a measured outcome
            op.error = traceback.format_exc()
            print(f"perfbench: {phase} op {index} failed:\n{op.error}", file=sys.stderr)
        op.end = time.time()
        ops.append(op)

    run("cold", -1, workload.cold)
    for index in range(workload.warmup_ops):
        run("warmup", index, workload.op)
    index = workload.warmup_ops
    deadline = time.perf_counter() + seconds
    while True:
        run("measured", index, workload.op)
        index += 1
        measured = [o for o in ops if o.phase == "measured"]
        if time.perf_counter() >= deadline and len(measured) >= min_measured:
            break
        if all(o.error for o in measured[-3:]) and len(measured) >= 3:
            break  # the program is failing: stop instead of spinning
    try:
        workload.check(ops)
    except Exception:
        err = traceback.format_exc()
        print(f"perfbench: output check raised:\n{err}", file=sys.stderr)
        for op in ops:
            op.error = op.error or f"check raised: {err.splitlines()[-1]}"
    for op in ops:
        workload.cleanup(op)
    return ops


def timed(ops):
    """Measured operations that ran to completion; a wrong output still
    has a valid time (and is counted failed), a raised one has none."""
    return [o for o in ops if o.phase == "measured" and o.completed]


def high_percentile(samples: list[float]):
    """The highest whole percentile with at least ten samples beyond it,
    or None when the run has too few samples for one."""
    n = len(samples)
    if n < 20:
        return None
    p = int(100 * (1 - 10 / n))
    return p, statistics.quantiles(samples, n=100)[p - 1]


def quartiles(samples: list[float]) -> dict:
    """Sample count, quartiles and median of a list of timings."""
    q1, median, q3 = statistics.quantiles(samples, n=4) if len(samples) > 1 else samples * 3
    return {"n": len(samples), "q1": q1, "median": median, "q3": q3}


def end_to_end(workload, ops, setups: list[float]) -> dict[str, float]:
    ok = timed(ops)
    return {
        "setup_s": statistics.median(setups),
        "cold_s": ops[0].seconds,
        "op_p50_s": statistics.median(o.seconds for o in ok),
        "rows_per_s": sum(o.rows for o in ok) / sum(o.seconds for o in ok),
        "compression_x": workload.compression_x(ok),
    }


def layer_metrics(tracer, jobs, workload, ops, plain_ops) -> tuple[dict, dict]:
    import eventlog

    region = (ops[0].start, ops[-1].end)
    att = eventlog.attribute(tracer.spans, jobs, region)
    figures = eventlog.span_figures(tracer.spans, att)
    windows = {
        "setup": [(0.0, ops[0].start)],
        "cold": [(o.start, o.end) for o in ops if o.phase == "cold"],
        "measured": [(o.start, o.end) for o in ops if o.phase == "measured"],
    }
    csv_bytes = getattr(workload, "csv_bytes", 0)
    metrics = {}
    for span, fields, phase in LAYER_SPANS:
        for f in fields:
            src = {"output_mib": "output_bytes", "shuffle_write_mib": "shuffle_write_bytes",
                   "spill_mib": "spill_bytes", "scan_passes": "input_bytes"}.get(f, f)
            v = eventlog.per_op_median(tracer.spans, figures, span, windows[phase], src)
            if f.endswith("_mib"):
                v /= MIB
            elif f == "scan_passes":
                v = v / csv_bytes if csv_bytes else 0.0
            metrics[f"{span}.{f}"] = v
    files, mib = workload.index_size() if hasattr(workload, "index_size") else (0, 0.0)
    traced = quartiles([o.seconds for o in timed(ops)])
    plain = quartiles([o.seconds for o in timed(plain_ops)])
    metrics.update({
        "streaming.index_files": float(files),
        "streaming.index_mib": mib,
        "unattributed.jobs": float(len(att.unattributed)),
        "trace.overhead_frac": traced["median"] / plain["median"] - 1,
    })
    attributed = sum(len(v) for v in att.owned.values())
    detail = {
        "region_jobs": att.total,
        "attributed_jobs": attributed,
        "unattributed_jobs": len(att.unattributed),
        "jobs_in_log": len(jobs),
        "spans": len(tracer.spans),
        # the two sides of trace.overhead_frac: an overhead smaller than
        # their quartile spread is not resolved
        "overhead_untraced_s": plain,
        "overhead_traced_s": traced,
    }
    if attributed + len(att.unattributed) != att.total:
        raise RuntimeError(f"job attribution does not add up: {detail}")
    return metrics, detail


def describe(ops) -> list[dict]:
    return [
        {"phase": o.phase, "index": o.index, "seconds": round(o.seconds, 4), "rows": o.rows,
         "ok": not o.error, **o.info}
        for o in ops
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, root]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything the program and Spark write stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cores = min(len(os.sched_getaffinity(0)), 4)
    load_start = os.getloadavg()[0]
    cls = WORKLOADS[args.workload]
    cache = os.path.join(work, "cache")
    setups: list[float] = []

    @contextmanager
    def session(event_log: str | None = None):
        spark, seconds = start_session(cores, spark_conf(work, event_log))
        setups.append(seconds)
        try:
            yield spark
        finally:
            stop_session(spark)

    tracer = plain_ops = trace_detail = None
    try:
        workload = cls(cache, os.path.join(run_dir, "plain"), args.seed)
        if args.trace:  # the untraced baseline for trace.overhead_frac
            with session() as spark:
                plain_ops = run_loop(workload, spark, args.seconds, MIN_MEASURED_TRACED)
        else:
            for _ in range(2):
                with session():
                    pass  # a set-up sample only
        log_dir = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install(TRACE_TARGETS)
            workload = cls(cache, os.path.join(run_dir, "traced"), args.seed)
            log_dir = os.path.join(run_dir, "eventlog")
        try:
            with session(log_dir) as spark:
                ops = run_loop(
                    workload, spark, args.seconds,
                    MIN_MEASURED_TRACED if args.trace else MIN_MEASURED,
                )
                rss = peak_rss_mib(jvm_process().pid)
        finally:
            if tracer:
                tracer.uninstall()
        if any(not timed(o) or not o[0].completed for o in (ops, plain_ops) if o is not None):
            print("perfbench: the cold or every measured operation raised", file=sys.stderr)
            return 1
        if args.trace:
            import eventlog

            (log_file,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
            metrics, trace_detail = layer_metrics(
                tracer, eventlog.read_event_log(log_file), workload, ops, plain_ops
            )
            ops = plain_ops + ops
        else:
            metrics = end_to_end(workload, ops, setups)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for o in ops if o.error)
    measured_s = [o.seconds for o in timed(ops)]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": cores,
        "master": f"local[{cores}]",
        "loadavg_1m": [load_start, os.getloadavg()[0]],
        "setups_s": setups,
        # reported, not gated: G1's adaptive heap sizing moves it by a
        # third between identical runs (see README)
        "peak_rss_mib": rss,
        "error_rate": failed / len(ops),
        "measured_ops": len(measured_s),
        "drift": measured_s[0] / statistics.median(measured_s) if measured_s else None,
        "high_percentile": high_percentile(measured_s),
        "ops": describe(ops),
        "trace_attribution": trace_detail,
    }
    print(json.dumps({"perfbench_detail": detail}))
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
