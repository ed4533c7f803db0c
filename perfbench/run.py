"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload pipeline_raw --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are synthesized from the seed (not
timed), then the runner starts a Spark session (``setup_s``), runs one
iteration in the fresh session (``first_run_s``) and later iterations:
at least one, then more while the next is expected to end within
``--seconds`` (``run_s`` is their median). Every iteration's output is
checked. With ``--trace 1`` the runner alternates traced and untraced
later iterations and reports the per-layer metrics instead, writing the
spans to ``.perfbench_out/``.

The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The run works under ``.perfbench_run/<workload>-<pid>/`` in the
repository root and removes it at exit; a traced run leaves its spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "amazon_climate_data_etl_spark"
MAX_CORES = 4


def warm_up_workers(batches):
    """Identity Arrow batch function: starts and imports a Python worker
    per task."""
    yield from batches


def machine_stamp(spark) -> dict:
    system = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def start_session(work: str, cores: int):
    from amazon_climate_data_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    (spark.range(cores, numPartitions=cores)
     .mapInPandas(warm_up_workers, "id long")
     .write.format("noop").mode("overwrite").save())
    return spark


def stop_session() -> None:
    """Stop the context, then the JVM it ran in, and wait for both."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def layer_metrics(tracer, runs: list[str], names: list[str],
                  cores: int) -> dict[str, float]:
    """Median over traced iterations of each layer's summed span counters;
    ``names`` are ``<layer>.<metric>``."""
    per_run = []
    for run_id in runs:
        acc: dict[str, dict[str, float]] = {}
        for s in tracer.spans:
            if s.run_id != run_id:
                continue
            a = acc.setdefault(s.name, {})
            vals = {**s.counts, "wall_s": s.wall_s, "plan_s": s.plan_s,
                    "output_files": s.files}
            if s.rows:
                vals["output_rows"] = s.rows
            for k, v in vals.items():
                if k != "slot_util":
                    a[k] = a.get(k, 0.0) + v
            a["worker_peak_rss_mb"] = max(a.get("worker_peak_rss_mb", 0.0),
                                          s.worker_peak_rss_mb)
        for a in acc.values():
            a["slot_util"] = a.get("executor_run_s", 0.0) / (cores * max(a["wall_s"], 1e-9))
        per_run.append(acc)
    out = {}
    for name in names:
        layer, m = name.rsplit(".", 1)
        out[name] = statistics.median(r.get(layer, {}).get(m, 0.0) for r in per_run)
    return out


def run(args, work: str, cores: int) -> tuple[dict, dict]:
    from perfbench.procs import RssSampler, host_steal_s
    from perfbench.trace import NoTrace, Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    wl.make_inputs()
    detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "loadavg_before": os.getloadavg(), "problems": [],
              "steal_s": []}
    attempted = failed = 0
    untraced: list[float] = []
    traced: list[float] = []
    traced_runs: list[str] = []
    sampler = RssSampler().start()
    try:
        steal0 = host_steal_s()
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        setup_s = time.perf_counter() - t0
        detail["setup_steal_s"] = host_steal_s() - steal0
        detail["machine"] = machine_stamp(spark)
        tracer = Tracer(spark, sampler, cores)

        def iteration(i: int, trace: bool) -> float:
            nonlocal attempted, failed
            out = os.path.join(work, "out", str(i))
            spark.catalog.clearCache()
            run_id = f"{args.workload}-{args.seed}-{i}"
            tr = tracer if trace else NoTrace()
            tracer.begin_run(run_id)
            steal0 = host_steal_s()
            t = time.perf_counter()
            try:
                errors = wl.iteration(spark, tr, out)
            except Exception as e:
                traceback.print_exc()
                errors = [f"iteration {i}: {type(e).__name__}: {str(e)[:300]}"]
            wall = time.perf_counter() - t
            detail["steal_s"].append(host_steal_s() - steal0)
            if trace:
                tracer.collect()
                traced_runs.append(run_id)
            try:
                errors += wl.check(out)
            except Exception as e:
                traceback.print_exc()
                errors.append(f"check {i}: {type(e).__name__}: {str(e)[:300]}")
            attempted += wl.OPS
            failed += min(len(errors), wl.OPS)
            detail["problems"] += errors[:5]
            shutil.rmtree(out, ignore_errors=True)
            return wall

        first = iteration(0, False)
        # later iterations: at least one (one of each kind when traced),
        # then more while the next one is expected to end in the window
        t_end = time.perf_counter() + args.seconds
        i, last = 1, 0.0
        while (not untraced or (args.trace and not traced)
               or time.perf_counter() + last <= t_end):
            trace = bool(args.trace) and i % 2 == 1
            last = iteration(i, trace)
            (traced if trace else untraced).append(last)
            i += 1
    finally:
        stop_session()
        sampler.stop()
    detail["loadavg_after"] = os.getloadavg()
    detail["iterations_s"] = {"first": first, "untraced": untraced, "traced": traced}
    detail["failed_ops_share"] = failed / max(attempted, 1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end" if not args.trace else "per_layer"]
    units = {m["name"]: m["unit"] for m in declared}
    if args.trace:
        metrics = layer_metrics(tracer, traced_runs, list(units), cores)
        metrics["session.wall_s"] = setup_s
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "first_run_s": first,
            "run_s": statistics.median(untraced),
            "peak_rss_mb": sampler.tree_peak_mb,
            "worker_peak_rss_mb": sampler.worker_peak_mb,
        }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pipeline_raw", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, d))
    # before the package is imported: session.py reads SPARK_GRAFT_CPUS at
    # import, and tempfile / spark-submit read the temp and local dirs
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, ROOT)
    os.chdir(work)
    try:
        result, detail = run(args, work, cores)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    from perfbench.procs import wait_children_exit

    left = wait_children_exit(30)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)
        return 1
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
