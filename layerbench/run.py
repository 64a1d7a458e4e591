"""Layered benchmark of equi7grid_spark on one host.

    python3 layerbench/run.py --workload assign_ingest --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh process with one local[k] session (k = the
CPUs in this process's affinity), runs closed-loop op cycles (at least
two, and no new op after --seconds), checks every op's output, and prints
as its last stdout line one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
with --trace 1 the run records a span around every layer call and reports
per-layer metrics. The line before it holds the host record and workload
details. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# thread CPU seconds of harness.reference_work on the reference VM when
# quiet: time metrics are scaled to this speed
REF_S = 0.1

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "main_items_per_cpu_s": "1/s",
    "side_op_cpu_s": "s",
}

# (span name, applies to Spark metrics, runs Python UDFs)
SPANS = [
    ("session.get_spark", False, False),
    ("operators.assign_jvm.tile_counts_jvm", True, False),
    ("operators.assign_jvm.assign_tiles_jvm", True, False),
    ("operators.join.join_tile_catalog", True, False),
    ("operators.multimodal.compute_phash", True, True),
    ("dedup.multimodal_near_dup", True, True),
    ("dedup.connected_components", True, False),
    ("warp.resample.resample_to_equi7_tiles", True, True),
    ("roi.get_tiles_in_geog_bbox", False, False),
    ("table.manifest.merge_upsert", True, False),
    ("table.manifest.compact", True, False),
    ("table.manifest.expire_snapshots", False, False),
    ("table.manifest.plan_scan", False, False),
    ("table.manifest.read", True, False),
]
SPARK_METRICS = ["jobs", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "idle_core_frac"]
EXTRA_COUNTS = [
    ("table.manifest.merge_upsert", "bytes_written"),
    ("table.manifest.merge_upsert", "manifest_bytes"),
    ("table.manifest.compact", "bytes_rewritten"),
    ("table.manifest.plan_scan", "files_kept_frac"),
    ("dedup.multimodal_near_dup", "pairs_out"),
    ("roi.get_tiles_in_geog_bbox", "tiles_out"),
]
BENCH_METRICS = ["main_op.trace_overhead_s", "main_op.unspanned_s", "side_op.unspanned_s"]


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in report order."""
    units = {"wall_s": "s", "self_s": "s", "jobs": "count", "executor_cpu_s": "s",
             "gc_s": "s", "shuffle_write_bytes": "bytes", "idle_core_frac": "fraction",
             "python_udf_s": "s"}
    out = []
    for name, spark_metrics, udf in SPANS:
        for m in ["wall_s", "self_s"] + (SPARK_METRICS if spark_metrics else []) + (
            ["python_udf_s"] if udf else []
        ):
            out.append((f"{name}.{m}", units[m]))
    extra_units = {"bytes_written": "bytes", "manifest_bytes": "bytes",
                   "bytes_rewritten": "bytes", "files_kept_frac": "fraction",
                   "pairs_out": "count", "tiles_out": "count"}
    out += [(f"{s}.{c}", extra_units[c]) for s, c in EXTRA_COUNTS]
    out += [(f"layerbench.{m}", "s") for m in BENCH_METRICS]
    return out


class Ctx:
    def __init__(self, spark, log, tracer):
        self.spark = spark
        self.log = log
        self.tracer = tracer


def driver_memory(mem_total: int) -> str:
    """A quarter of host RAM, between 1 and 4 GiB: leaves room for the
    JVM's off-heap, the Python workers and other tenants."""
    return f"{max(1, min(4, mem_total // 4 // 2**30))}g"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        from equi7grid_spark.session import get_spark
    except ImportError as e:
        print(f"layerbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    slots = harness.local_slots(master, cpus)
    if slots > cpus:
        print(f"layerbench: {master} asks for {slots} task slots but this process "
              f"may run on {cpus} CPUs", file=sys.stderr)
        return 2

    tmp = WORK / "tmp"
    local_dirs = WORK / "spark-local"
    for d in (tmp, local_dirs):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory(harness.mem_total_bytes())
    # Python workers start from the JVM's working directory, not this
    # script's; without the repo on their path they cannot import the engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dirs)
    os.environ["TMPDIR"] = str(tmp)
    # op CPU time leaves out the JIT compiler threads, which must then stay
    # alive for their time to be read (harness.jit_cpu_seconds). The heap
    # is committed and touched whole at start: left to grow, G1 reached
    # 1.1-1.9 GB of RSS on the same work
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
            f" -Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"}

    wl = WORKLOADS[args.workload](args.seed, WORK)
    log = harness.OpLog(calibrate=harness.reference_work)
    tracer = harness.Tracer(False, None, slots)
    ctx = Ctx(None, log, tracer)
    wl.bind(ctx)
    steal0 = harness.cpu_steal_ticks()
    with harness.RssSampler() as rss:
        # set-up = the session start, which starts the JVM, the input load
        # and the warm-up ops, in CPU time of the process tree: everything
        # a user pays before the first warm op
        ref0 = harness.reference_work()
        c0, t0 = harness.tree_cpu_seconds(os.getpid()), time.perf_counter()
        tracer.enabled = bool(args.trace)
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="layerbench", master=master, extra_conf=conf)
        ctx.spark, tracer.enabled = spark, False
        wl.load()
        t1 = time.perf_counter()
        wl.warmup()
        setup = {
            "setup_cpu_s": harness.tree_cpu_seconds(os.getpid()) - c0,
            "session_wall_s": t1 - t0,
            "warmup_wall_s": time.perf_counter() - t1,
        }
        setup["ref"] = [ref0, harness.reference_work()]
        host = harness.host_record(spark)
        log.clear_samples()  # warm-up ops are checked but are not samples
        if args.trace:
            tracer.sc = spark.sparkContext
        deadline = time.perf_counter() + args.seconds
        # the first two cycles (in a traced run one traced, one not) always
        # complete, so every op kind has two samples and the memory peak
        # covers the same work in every run
        min_cycles = 2
        n = 0
        while n < min_cycles or time.perf_counter() < deadline:
            # in a traced run every other cycle runs untraced, which gives
            # the tracing overhead from one process
            traced = bool(args.trace) and n % 2 == 0
            if traced:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            elif args.trace:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
            tracer.enabled = traced
            tracer.op_id = n
            for op in wl.cycle(traced):
                if n >= min_cycles and time.perf_counter() >= deadline:
                    break
                op()
            if n == min_cycles - 1:
                peak_rss = rss.peak
                details_rss = sorted((round(v / 2**20) for v in rss.at_peak.values()), reverse=True)
            n += 1
        tracer.enabled = bool(args.trace)
        wl.finish(bool(args.trace))
        tracer.enabled = False
        details = wl.details()
        details["cycles"] = n
        details["peak_rss_mb_whole_run"] = rss.peak / 2**20
        spark.stop()
    steal1 = harness.cpu_steal_ticks()
    host["steal_frac"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 5)
    host["task_slots"] = slots
    host["driver_memory"] = os.environ["SPARK_DRIVER_MEMORY"]

    if args.trace:
        metrics = trace_metrics(harness, tracer, log)
        (WORK / f"spans-{args.workload}-{args.seed}.json").write_text(json.dumps(
            [vars(s) for s in tracer.spans]))
    else:
        main_t, side_t = log.times.get("main", []), log.times.get("side", [])
        main_c, side_c = log.cpu.get("main", []), log.cpu.get("side", [])
        if not main_t or not side_t:
            raise RuntimeError(f"no successful ops in {args.seconds}s: {log.errors[:3]}")
        # the host's speed over this run, relative to the reference VM
        refs = setup["ref"] + [r for v in log.ref.values() for r in v]
        scale = REF_S / harness.median(refs)
        values = {
            "setup_s": setup["setup_cpu_s"] * scale,
            "peak_rss_mb": peak_rss / 2**20,
            "main_items_per_cpu_s": wl.items_per_main / (harness.median(main_c) * scale),
            "side_op_cpu_s": harness.median(side_c) * scale,
        }
        details["speed_scale"] = scale
        # wall-clock figures of the same ops: too noisy on a shared host
        # to gate on, kept in the run record
        details["main_items_per_s"] = wl.items_per_main / harness.median(main_t)
        details["side_op_p50_s"] = harness.median(side_t)
        details["setup_wall_s"] = setup["session_wall_s"] + setup["warmup_wall_s"]
        details["rss_mb_at_peak"] = details_rss
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for e in log.errors:
        print(f"layerbench: failed op: {e}", file=sys.stderr)
    samples = {k: [round(t, 3) for t in v] for k, v in log.times.items()}
    samples.update({f"{k}_cpu": [round(t, 3) for t in v] for k, v in log.cpu.items()})
    samples.update({f"{k}_jit_cpu": [round(t, 3) for t in v] for k, v in log.jit.items()})
    samples.update({f"{k}_ref": [round(t, 4) for t in v] for k, v in log.ref.items()})
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "setup": setup, "samples": samples, "details": details}))
    print(json.dumps({
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": metrics,
    }))
    return 0


def stop_jvm(harness) -> None:
    """End the Spark JVM (and with it the Python workers it forked) and
    wait for every descendant process of this one to be gone. The JVM
    exits when its stdin closes."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = harness.descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)
    for pid in harness.wait_gone(kids, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    harness.wait_gone(kids, 10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def trace_metrics(harness, tracer, log) -> dict:
    spans = tracer.spans
    selfs = harness.self_times(spans)
    incl = harness.inclusive_stage(spans)
    per: dict[str, dict[str, list[float]]] = {}
    for s, st, inc in zip(spans, selfs, incl):
        d = per.setdefault(s.name, {})
        d.setdefault("wall_s", []).append(s.wall)
        d.setdefault("self_s", []).append(st)
        if inc:
            d.setdefault("jobs", []).append(inc["jobs"])
            d.setdefault("executor_cpu_s", []).append(inc["cpu_ns"] / 1e9)
            d.setdefault("gc_s", []).append(inc["gc_ms"] / 1e3)
            d.setdefault("shuffle_write_bytes", []).append(inc["shuffle_write_bytes"])
            d.setdefault("idle_core_frac", []).append(
                1.0 - inc["run_ms"] / 1e3 / (s.wall * tracer.slots) if s.wall > 0 else 0.0
            )
        for k, v in s.counts.items():
            d.setdefault(k, []).append(v)
    values = {}
    for name, _ in per_layer_names():
        span, metric = name.rsplit(".", 1)
        xs = per.get(span, {}).get(metric)
        values[name] = harness.median(xs) if xs else 0.0
    # tracing overhead: traced minus untraced cycles of the main op
    traced_ops = {t0 for _, t0, t1 in log.records
                  if any(s.parent is None and t0 <= s.start <= t1 for s in spans)}
    tr = [t1 - t0 for k, t0, t1 in log.records if k == "main" and t0 in traced_ops]
    un = [t1 - t0 for k, t0, t1 in log.records if k == "main" and t0 not in traced_ops]
    if tr and un:
        values["layerbench.main_op.trace_overhead_s"] = harness.median(tr) - harness.median(un)
    for kind, xs in harness.unspanned(log.records, spans).items():
        if kind in ("main", "side"):
            values[f"layerbench.{kind}_op.unspanned_s"] = harness.median(xs)
    return {name: {"value": values[name], "unit": unit} for name, unit in per_layer_names()}


if __name__ == "__main__":
    try:
        rc = main()
    except Exception:
        traceback.print_exc()
        rc = 1
    finally:
        if "pyspark" in sys.modules:
            import harness

            stop_jvm(harness)
    sys.exit(rc)
