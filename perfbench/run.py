"""Layered benchmark for marketviz_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 5 --trace 0

Makes its inputs from ``--seed`` under ``.perfbench/`` in the current
directory, starts Spark on ``local[<nproc>]`` with the stock
``session.get_spark`` confs, makes an untimed warm-up, then times
whole passes of the workload until ``--seconds`` of measured time have
passed (at least one pass), checks every operation's output, and
prints one JSON object as the last line of stdout. ``--trace 0``
prints the end-to-end metrics, with the median pass; ``--trace 1``
makes a traced pass and an untraced pass after the warm-up, and prints
the per-layer metrics of the traced pass, including the tracing
overhead. The full
detail of the run (per-operation parts, counters, self time per
layer, host state) goes to ``.perfbench/results/``.

Exits non-zero, without a result line, when the program cannot be
imported from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("iterative_driver", "etl_write")
SETUPS = 2  # cold session starts per run, each in a new JVM; setup_s is their median


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the program from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [root, HERE]


def spark_conf(work: str) -> dict[str, str]:
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    results = os.path.join(root, ".perfbench", "results")
    work = os.path.join(root, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    if not os.path.isdir(os.path.join(root, "marketviz_spark")):
        print("perfbench: run from the repository root (no marketviz_spark/ here)", file=sys.stderr)
        return 2
    os.makedirs(results, exist_ok=True)
    prepare_env(root, work)
    try:
        return run(args, root, work, results)
    finally:
        if "pyspark" in sys.modules:
            shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str, results: str) -> int:
    import layers
    import workloads as wl
    from marketviz_spark.session import get_spark

    host_before = layers.host_state()
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    t = time.perf_counter()
    rows = {}
    if args.workload == "iterative_driver":
        rows = wl.datagen.write_tables(data_dir, args.seed, wl.ITERATIVE_SF)
    datagen_s = time.perf_counter() - t

    starts = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            shutdown_jvm()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=spark_conf(work))
        starts.append(time.perf_counter() - t0)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    h = wl.Harness(spark, work, args.seed)
    if args.workload == "etl_write":
        workload = wl.EtlWorkload(h)
    else:
        workload = wl.QueryWorkload(h, data_dir)

    # An untimed warm-up through the same calls (for etl_write, the
    # full load and the first increment): the first pass of a fresh JVM
    # pays for class loading, code generation, JIT and the Python
    # workers' start, two to five times what a later pass costs.
    t0 = time.perf_counter()
    warm = workload.warm_up()
    warmup_s = time.perf_counter() - t0
    first_op_s = time.perf_counter() - T_PROCESS
    passes = []
    if args.trace:
        # The traced pass and the untraced pass after it differ mainly
        # by tracing (on etl_write the second one adds the next day).
        passes.append(workload.run_pass(True))
        passes.append(workload.run_pass(False))
    else:
        while not passes or sum(p.wall for p in passes) < args.seconds:
            passes.append(workload.run_pass(False))
    heap_mb = layers.heap_live_mb(spark)
    spark.stop()
    shutdown_jvm()
    host_after = layers.host_state(own_pids={jvm_pid})

    ops = [o for p in [warm, *passes] for o in p.ops]
    failed = [o for o in ops if not o.ok]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "table_rows": rows,
        "datagen_s": datagen_s,
        "setup": {"start_s": starts, "warmup_s": warmup_s, "process_to_first_op_s": first_op_s},
        "host": {"before": host_before, "after": host_after,
                 "steal_share": layers.steal_share(host_before["cpu_jiffies"],
                                                   host_after["cpu_jiffies"]),
                 "valid": host_before["valid"] and host_after["valid"]},
        "passes": [
            {
                "warm_up": p is warm,
                "traced": p.traced,
                "wall_s": p.wall,
                "ops": [
                    {"name": o.name, "wall_s": o.wall, "jobs": o.jobs, "build_jobs": o.build_jobs,
                     "ok": o.ok, "error": o.error, "counters": o.counters,
                     **{k: v for k, v in o.parts.items() if k != "layers"}}
                    for o in p.ops
                ],
            }
            for p in [warm, *passes]
        ],
        "op_wall_s": {
            name: {"n": len(walls), "median": layers.median(walls), "all": walls}
            for name, walls in group_walls([o for p in passes for o in p.ops]).items()
        },
        "heap_live_mb": heap_mb,
    }
    if args.trace:
        traced, plain = passes
        lm = wl.layer_metrics(traced, h.tracer.spans, nproc)
        detail["self_s"] = lm.pop("_self_s")
        detail["spans"] = [s.__dict__ for s in h.tracer.spans]
        lm["session.start_s"] = layers.median(starts)
        lm["session.warmup_s"] = warmup_s
        lm["trace.overhead_s"] = traced.wall - plain.wall
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(lm.items())}
    else:
        metrics = {
            "setup_s": {"value": layers.median(starts), "unit": "s"},
            "pass_wall_s": {"value": layers.median([p.wall for p in passes]), "unit": "s"},
            "heap_live_mb": {"value": heap_mb, "unit": "MB"},
        }
    detail["metrics"] = metrics
    detail["process_s"] = time.perf_counter() - T_PROCESS
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    if not detail["host"]["valid"]:
        print(f"perfbench: INVALID run, stray JVMs {host_before['stray_java_pids']} "
              f"{host_after['stray_java_pids']}", file=sys.stderr)
    for o in failed:
        print(f"perfbench: FAILED {o.name}: {o.error}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
          f"ops={len(ops)} "
          f"host_valid={detail['host']['valid']} steal={detail['host']['steal_share']:.3f} detail={os.path.relpath(os.path.join(results, name), root)}")
    if args.trace:
        for layer, s in sorted(detail["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"perfbench: self_s {layer:24s} {s:9.3f}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def group_walls(ops) -> dict[str, list[float]]:
    """Operation walls by operation name, in run order."""
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.name, []).append(o.wall)
    return out


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if "_bytes" in metric:
        return "bytes"
    if metric.endswith(("_ratio", "_amp", "_per_request")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
