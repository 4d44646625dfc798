"""linkgraph benchmark: one workload per run, from the root of a checkout.

    python3 lgbench/run.py --workload powerlaw_scale --seed 1 --seconds 10 --trace 0
    python3 lgbench/run.py --workload all --seed 1 --seconds 10 --trace 0

A run starts one Spark driver at local[<cores>] (cores = the CPUs this
process may use), loads the workload's inputs three times, runs its
one-time preparation (prebuilt stores, warm-up) and reports the median
load plus the preparation as ``setup_s``. It computes the references,
then runs closed-loop passes for ``--seconds`` (at least one) and
reports the median ``pass_cpu_s``: CPU seconds of the driver, the JVM
and the Python workers inside the timed calls. Wall time per pass and
per call goes to stderr; on a shared host it moves with the CPU time the
hypervisor gives to other guests. ``--trace 1`` runs one traced pass and
prints the per-layer metrics instead. The last line of stdout is the
JSON result; the run context and a summary with medians, percentiles
and sample counts go to stderr. The exit code is 1 when any operation
failed or returned a wrong result, 2 when linkgraph is not in the
checkout.

Everything the run writes lives under ``.lgbench_work/`` in the
checkout, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".lgbench_work")
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
END_TO_END = {"pass_cpu_s": "s", "setup_s": "s"}


def _canary() -> float:
    """Median time of a fixed numpy kernel: flags host drift, not the program."""
    import numpy as np

    x = np.random.default_rng(0).random(1 << 21)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.sort(x)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _start_spark(cores: int):
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="lgbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _job_floors(spark) -> tuple[float, float]:
    def ident(batches):
        yield from batches

    jvm, py = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        jvm.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(1000).mapInPandas(ident, "id long").count()
        py.append(time.perf_counter() - t0)
    return statistics.median(jvm), statistics.median(py)


def _summary(name: str, values: list[float], unit: str) -> str:
    """median, the highest percentile with >= 10 samples beyond it, and n."""
    n = len(values)
    med = statistics.median(values)
    if n >= 11:
        q = int(100 * (1 - 10 / n))
        hi = sorted(values)[min(n - 1, int(round(q / 100 * (n - 1))))]
        tail = f"p{q}={hi:.4f}"
    else:
        tail = "p-high n/a (fewer than 11 samples)"
    return f"  {name:28s} median={med:.4f} {unit:6s} {tail} n={n}"


def _measure(args, wl, spark, cores: int) -> dict:
    """Set-up repeats, references, then the plain or traced passes."""
    from lgbench import trace, workloads

    setup_times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0
    wl.references()

    sc = spark.sparkContext
    tracer = trace.Tracer(sc, cores)
    ops = workloads.Ops(sc, tracer)
    r = {"setup": setup_times, "prepare_s": prepare_s, "ops": ops, "tracer": tracer}
    if args.trace:
        r["floors"] = _job_floors(spark)
        tracer.install()
        tracer.active = True
        ops.pass_time = 0.0
        try:
            r["stats"] = wl.run_pass(spark, ops)
        finally:
            tracer.active = False
            tracer.uninstall()
        tracer.collect()
        r["pass"] = [ops.pass_time]
        problems = wl.side_problems(tracer)
        for p in problems:
            print(f"[lgbench] side record: {p}", file=sys.stderr)
        ops.failed += len(problems)
        ops.attempted += len(problems)
        return r
    r["pass"], r["pass_cpu"] = [], []
    t_start = time.perf_counter()
    while True:
        ops.pass_time = ops.pass_cpu = 0.0
        p0 = time.perf_counter()
        wl.run_pass(spark, ops)
        r["pass"].append(ops.pass_time)
        r["pass_cpu"].append(ops.pass_cpu)
        # stop before a pass that would overrun the measuring window
        if time.perf_counter() - t_start + (time.perf_counter() - p0) > args.seconds:
            return r


def run_one(args) -> int:
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["LINKGRAPH_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    try:
        import linkgraph
    except ImportError as e:
        print(f"[lgbench] cannot import linkgraph from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(linkgraph.__file__).startswith(ROOT + os.sep):
        print(f"[lgbench] linkgraph comes from {linkgraph.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    import numpy
    import pyarrow
    import pyspark

    from lgbench import proc, trace, workloads
    from linkgraph.algorithms import blocks

    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark", "data"):
        os.makedirs(os.path.join(WORK, sub))
    cores = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(WORK, "data"))
    canary_before = _canary()

    steal0, total0 = proc.cpu_ticks()
    t0 = time.perf_counter()
    spark = _start_spark(cores)
    try:
        spark.range(1).count()
        jvm_start_s = time.perf_counter() - t0
        r = _measure(args, wl, spark, cores)
        r["peak_rss"] = proc.peak_rss_mb()
    finally:
        _stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    steal1, total1 = proc.cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    canary_after = _canary()
    ops, tracer, pass_times, setup_times = r["ops"], r["tracer"], r["pass"], r["setup"]
    prepare_s, threshold = r["prepare_s"], blocks.DRIVER_EDGE_THRESHOLD

    context = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores": cores,
        "master": f"local[{cores}]", "driver_memory": DRIVER_MEMORY,
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
        "inputs": wl.sizes(), "jvm_start_s": round(jvm_start_s, 4),
        "prepare_s": round(prepare_s, 4), "peak_rss_mb": round(r["peak_rss"], 1),
        "host.canary_before_s": canary_before, "host.canary_after_s": canary_after,
        "host.cpu_steal_pct": round(steal_pct, 2),
        "side": {"graph_edges": wl.graph_edges, "driver_edge_threshold": threshold},
    }
    print("[lgbench] context " + json.dumps(context), file=sys.stderr)
    print(f"[lgbench] {wl.name}: attempted={ops.attempted} failed={ops.failed}",
          file=sys.stderr)
    lines = [_summary("pass_wall_s", pass_times, "s"), _summary("setup_load_s", setup_times, "s")]
    if not args.trace:
        lines.append(_summary("pass_cpu_s", r["pass_cpu"], "s"))
    lines += [_summary(f"op.{k}", v, "s") for k, v in sorted(ops.times.items()) if v]
    print("\n".join(lines), file=sys.stderr)

    if args.trace:
        metrics = tracer.layer_metrics()
        metrics.update(r["stats"])
        metrics.update({
            "spark.job_floor_jvm_s": r["floors"][0], "spark.job_floor_py_s": r["floors"][1],
            "side.graph_edges": wl.graph_edges, "side.driver_edge_threshold": threshold,
            "side.edges_over_threshold": wl.graph_edges / threshold,
            "host.canary_before_s": canary_before, "host.canary_after_s": canary_after,
            "host.cpu_steal_pct": steal_pct,
            "trace.overhead_s": tracer.overhead_s,
            "process.peak_rss_mb": r["peak_rss"],
            "process.pass_wall_s": pass_times[0],
        })
        units = trace.per_layer_units()
        values = {k: float(metrics.get(k, 0.0)) for k in units}
    else:
        units = END_TO_END
        values = {
            "pass_cpu_s": statistics.median(r["pass_cpu"]),
            "setup_s": statistics.median(setup_times) + prepare_s,
        }
    correct = ops.failed == 0
    result = {
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in turn, one driver at a time; a table at the end."""
    from lgbench.workloads import WORKLOADS

    rows, status = [], 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        child = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = child.stdout.strip().splitlines()
        if child.returncode or not lines:
            status = 1
        if lines:
            res = json.loads(lines[-1])
            rows.append((name, res))
    for name, res in rows:
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:.3f}")
        for k, m in res["metrics"].items():
            print(f"  {k:40s} {m['value']:.6g} {m['unit']}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        sys.path.insert(0, ROOT)
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
