"""Optimization harness (NOT the driver's frozen bench.py).

Four jobs:
  --plans q1,q2,...  dump .explain("formatted") for each query to
                     plans/r08/<query>_<tag>.txt   (guide §7.2)
  --executed q1,...  run each query once to a noop sink and write the
                     AQE-final plan of every SQL execution it started
                     (eager checkpoints included), in order, to
                     plans/r08/<query>_executed_<tag>.txt
  --time q1,q2,...   per-query noop-sink wall times, min-of-N, and
                     the Spark jobs one run takes (each rep runs
                     under its own job group); prints
                     {query: {"s": wall, "jobs": n}}
                     (guide §1.4: noop computes every column, no sink
                     cost, no count()-style column pruning)
  --ab q1,q2,...     ORDER-BALANCED same-session A/B of the runtime SQL
                     confs in AB_CONF ("k=v;k=v", the ON variant; OFF
                     restores the session values). The variant order
                     flips every rep: the second consecutive invocation
                     of the SAME query runs 10-30% faster than the
                     first (codegen/JIT/page-cache adjacency — CLAUDE.md
                     r7), so a fixed [A,B] interleave systematically
                     flatters B and measured a 10-30% "win" for a
                     config pair that balanced ordering showed to be a
                     no-op. Use count() actions (driver methodology).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0),
     SPARK_GRAFT_CPUS (default: the CPUs in this process's affinity;
     every mode refuses more than that), REPS (default 3; use >=8 for --ab, which rounds it up to even),
     TAG (default "before"), AB_CONF (for --ab).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
REPS = int(os.environ.get("REPS", "3"))
TAG = os.environ.get("TAG", "before")


def _check_cpus() -> None:
    """Refuse a local[k] wider than this process may run on: taskset
    and container limits fail silently, and the numbers would lie."""
    avail = len(os.sched_getaffinity(0))
    if CPUS > avail:
        raise SystemExit(
            f"SPARK_GRAFT_CPUS={CPUS} exceeds the {avail} CPUs this "
            f"process may run on; set SPARK_GRAFT_CPUS<={avail}"
        )


def _session():
    from equi7grid_spark.session import get_spark

    return get_spark(
        app_name="equi7_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)
        },
    )


def main() -> None:
    mode = sys.argv[1]
    names = sys.argv[2].split(",")
    _check_cpus()
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = _session()
    if mode == "--plans":
        outdir = Path(__file__).resolve().parent / "plans" / "r08"
        outdir.mkdir(parents=True, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (outdir / f"{name}_{TAG}.txt").write_text(plan)
            print(f"# wrote {name}_{TAG}.txt ({len(plan)} bytes)")
    elif mode == "--executed":
        # the AQE-final plan of every SQL execution one noop run of the
        # query starts: a query's eager checkpoints (connected-components
        # rounds, say) run as executions of their own before the sink's
        sc = spark.sparkContext
        store = spark._jsparkSession.sharedState().statusStore()

        def executions() -> dict:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            it = store.executionsList().iterator()
            out = {}
            while it.hasNext():
                e = it.next()
                out[e.executionId()] = e
            return out

        outdir = Path(__file__).resolve().parent / "plans" / "r08"
        outdir.mkdir(parents=True, exist_ok=True)
        for name in names:
            seen = set(executions())
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            new = sorted((i, e) for i, e in executions().items() if i not in seen)
            text = "\n".join(
                f"== execution {k} of {len(new)}: {e.description()} ==\n"
                f"{e.physicalPlanDescription()}"
                for k, (_, e) in enumerate(new, 1)
            ).replace(SF_DIR, "<sf_dir>").replace(str(outdir.parents[1]), "<repo>")
            (outdir / f"{name}_executed_{TAG}.txt").write_text(text)
            print(f"# wrote {name}_executed_{TAG}.txt ({len(new)} executions)")
    elif mode == "--time":
        # warm both engines (mirrors bench.py's warmup)
        qs["tile_counts_t6"](spark, SF_DIR).count()
        qs["image_decode_stats"](spark, SF_DIR).count()
        sc = spark.sparkContext
        out = {}
        for name in names:
            fn = qs[name]
            best = None
            for rep in range(REPS):
                group = f"time:{name}:{rep}"
                sc.setJobGroup(group, f"time:{name}")
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                # every rep plans and runs the same jobs: keep the last count
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                best = dt if best is None else min(best, dt)
            sc.setLocalProperty("spark.jobGroup.id", None)
            out[name] = {"s": round(best, 3), "jobs": jobs}
            print(f"# {name}: {best:.3f}s {jobs} jobs", file=sys.stderr)
        print(json.dumps(out))
    elif mode == "--ab":
        conf = os.environ.get("AB_CONF", "")
        if not conf:
            raise SystemExit("--ab needs AB_CONF='key=value;key=value'")
        on_conf = dict(kv.split("=", 1) for kv in conf.split(";") if kv)
        # None = unset on this session; OFF restores it with conf.unset
        off_conf = {k: spark.conf.get(k, None) for k in on_conf}
        qs["tile_counts_t6"](spark, SF_DIR).count()
        qs["image_decode_stats"](spark, SF_DIR).count()
        res = {n: {False: [], True: []} for n in names}
        # even rep count: each variant runs first exactly as often as second
        reps = max(REPS, 2)
        reps += reps % 2
        for rep in range(reps):
            order = (False, True) if rep % 2 == 0 else (True, False)
            for name in names:
                for on in order:
                    for k, v in (on_conf if on else off_conf).items():
                        if v is None:
                            spark.conf.unset(k)
                        else:
                            spark.conf.set(k, v)
                    spark.sparkContext.setJobDescription(
                        f"ab:{name}:{'on' if on else 'off'}"
                    )
                    t0 = time.time()
                    qs[name](spark, SF_DIR).count()
                    res[name][on].append(time.time() - t0)
            print(f"# rep {rep} done", file=sys.stderr)
        out = {}
        for name in names:
            a, b = res[name][False], res[name][True]
            a_med, b_med = statistics.median(a), statistics.median(b)
            out[name] = {
                "off_min": round(min(a), 3),
                "off_med": round(a_med, 3),
                "on_min": round(min(b), 3),
                "on_med": round(b_med, 3),
            }
            print(f"# {name}: OFF min {min(a):.3f} med {a_med:.3f} | "
                  f"ON min {min(b):.3f} med {b_med:.3f}", file=sys.stderr)
        print(json.dumps(out))
    else:
        raise SystemExit(f"unknown mode {mode}")
    spark.stop()


if __name__ == "__main__":
    main()
