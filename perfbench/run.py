"""The repo's benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload query_headline --seed 1 \\
        --seconds 8 --trace 0

Runs from any working directory against the checkout this file sits in.
Inputs are generated from ``--seed`` under ``<checkout>/.perfbench_out``
(removed afterwards); a traced run also leaves its spans and layer
counters there as ``trace-<workload>-seed<seed>.json``.

The load is one closed-loop client on ``local[<cores>]``: each operation
starts after the previous one returns. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see BENCHMARK.json
and perfbench/README.md). The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5  # setup_s is the median of this many session starts
DRIVER_MEM = "2g"

# per-layer metrics in the result object: the layers every workload enters
LAYER_METRICS = (
    "session.get_spark_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.core_busy_frac",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "trace.overhead_frac",
)

# the workload's own names for the shared end-to-end metrics
ALIASES = {
    "query_headline": {"op_p50_s": "query_p50_s", "pass_s": "headline_total_s"},
    "ingest_cdc": {"op_p50_s": "cdc_epoch_p50_s", "pass_s": "ingest_cdc_s"},
}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "mb" in re.split(r"[._]", name):
        return "MB"
    if name.endswith(("_frac", "amplification")):
        return "ratio"
    return "count"


def _environment(work: str, cores: int) -> dict:
    """Process environment and Spark confs that keep every file the run
    writes inside ``work`` and let Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size keeps peak RSS from following G1's resizing
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _stop(spark) -> None:
    """Stop Spark, end the JVM, and wait for it and its Python workers."""
    from pyspark import SparkContext

    from perfbench.trace import _stat, python_workers

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = python_workers(proc.pid) if proc else []
    spark.stop()
    gw.shutdown()
    if proc:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while time.time() < deadline:
            st = _stat(pid)
            if st is None or st[0] in "ZX":
                break
            time.sleep(0.1)
        else:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "data_wrangle_openstreetmaps_data_spark")):
        print("the engine package is not in this checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    try:
        return _run(args, WORKLOADS[args.workload], work, out_dir, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, out_dir: str, cores: int) -> int:
    conf = _environment(work, cores)
    from data_wrangle_openstreetmaps_data_spark.session import get_spark
    from pyspark import SparkContext

    from perfbench import stats
    from perfbench.trace import JvmStages, Tracer, peak_rss_mb
    from perfbench.workloads import Context

    t_start = time.perf_counter()
    inputs = wl.prepare(work, args.seed)
    t_prepared = time.perf_counter()
    setup_s, get_spark_s = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        wl.warm_up(spark, inputs)
        setup_s.append(time.perf_counter() - t0)
        get_spark_s.append(t1 - t0)
    jvm_pid = SparkContext._gateway.proc.pid
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(spark, tracer, args.seconds, args.seed, cores, jvm_pid, work,
                  wl.min_passes, JvmStages(spark) if args.trace else None)
    t_setup = time.perf_counter()
    try:
        res = wl.run(ctx, inputs)
        rss = peak_rss_mb([jvm_pid]) + sum(res.worker_peaks.values())
    finally:
        t_ran = time.perf_counter()
        _stop(spark)

    correct = not res.wrong and res.failed == 0
    passes = sum(res.passes) + sum(res.traced_passes)
    print(f"run phases: inputs {t_prepared - t_start:.1f} s, setup "
          f"{t_setup - t_prepared:.1f} s, checks "
          f"{t_ran - t_setup - passes:.1f} s, passes {passes:.1f} s, "
          f"stop {time.perf_counter() - t_ran:.1f} s")
    print(f"workload {args.workload}: seed {args.seed}, local[{cores}], "
          f"one closed-loop client, trace={args.trace}")
    print(f"  {wl.pass_name} walls: untraced "
          f"{[round(p, 3) for p in res.passes]}, traced "
          f"{[round(p, 3) for p in res.traced_passes]}")
    if res.wrong:
        print(f"WRONG RESULTS: {', '.join(res.wrong)}")
    print(f"  failed_frac        {res.failed / max(1, res.attempted):.4f}  "
          f"({res.failed} of {res.attempted} operations)")
    if not args.trace:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "peak_rss_mb": (rss, "MB"),
            "pass_s": (wl.pass_time(res), "s"),
            "op_p50_s": (stats.percentile(res.ops, 50), "s"),
        }
        counts = {"setup_s": len(setup_s), "peak_rss_mb": 1,
                  "pass_s": len(res.passes), "op_p50_s": len(res.ops)}
        alias = ALIASES[args.workload]
        for k, (v, u) in metrics.items():
            print(f"  {alias.get(k, k):<18} {v:10.4f} {u:<5} n={counts[k]}"
                  + (f"  [{k}]" if k in alias else ""))
        tail = stats.tail_percentile(len(res.ops))
        print(f"  highest percentile with 10 of {len(res.ops)} samples beyond it: "
              + (f"p{tail:g}" if tail else "none"))
        _print_parts(args.workload, res)
    else:
        layers = _layer_medians(res.layers)
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["trace.overhead_frac"] = (
            statistics.median(res.traced_passes) / statistics.median(res.passes) - 1
        )
        for k in sorted(layers):
            print(f"  {k:<28} {layers[k]:12.4f} {unit_of(k)}")
        print(f"  tracing overhead: traced {wl.pass_name} "
              f"{statistics.median(res.traced_passes):.3f} s "
              f"(n={len(res.traced_passes)}) vs untraced "
              f"{statistics.median(res.passes):.3f} s (n={len(res.passes)})")
        path = _write_trace(out_dir, args, tracer, res, layers)
        print(f"  spans and layer counters: {path}")
        metrics = {k: (layers[k], unit_of(k)) for k in LAYER_METRICS}
    print(json.dumps(stats.result_line(correct, res.attempted, res.failed, metrics)))
    return 0


def _print_parts(workload: str, res) -> None:
    """Per-query medians of a headline run; the ingest and CDC halves of an
    ingest_cdc pass, by their own names."""
    info = res.info
    if workload == "query_headline":
        print("  per query (median s): " + ", ".join(
            f"{q} {statistics.median(v):.3f}" for q, v in sorted(info.items())))
        return
    ingest_s = statistics.median(info["ingest_s"])
    drain_s = statistics.median(info["drain_s"])
    n = len(info["ingest_s"])
    print(f"  ingest_s           {ingest_s:10.4f} s     n={n}")
    print(f"  ingest_mb_per_s    {info['input_mb'] / ingest_s:10.4f} MB/s  "
          f"({info['input_mb']:.2f} MB of OSM XML per ingest)")
    print(f"  cdc_drain_s        {drain_s:10.4f} s     n={n}")
    print(f"  cdc_rows_per_s     {info['rows'] / drain_s:10.1f} 1/s   "
          f"({info['rows']} change rows per drain)")


def _layer_medians(layers: list[dict]) -> dict:
    keys = sorted({k for layer in layers for k in layer})
    return {k: statistics.median(layer.get(k, 0) for layer in layers) for k in keys}


def _write_trace(out_dir: str, args, tracer, res, layers: dict) -> str:
    """Spans, per-layer self time and counters, written once at the end."""
    from perfbench.stats import reconcile, self_times

    doc = {
        "workload": args.workload, "seed": args.seed,
        "layer_medians": layers,
        "self_time_s": self_times(tracer.spans),
        "passes": res.layers,
        "traced_pass_s": res.traced_passes, "untraced_pass_s": res.passes,
        "spans": tracer.spans,
    }
    if args.workload == "query_headline":
        doc["reconcile"] = reconcile(tracer.spans)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    if "reconcile" in doc:
        r = doc["reconcile"]
        print(f"  build+plan+exec vs query wall: max gap {r['max_gap_s']:.4f} s "
              f"over {r['queries']} executions, within tolerance: {r['ok']}")
    return path


if __name__ == "__main__":
    sys.exit(main())
