"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve,batch}
                             --seed N --seconds S --trace {0,1}

Runs one workload of the engine on local[nproc] from a single process,
checks every output, and prints the figures by name and unit; the last
line of standard output is one JSON object: correct, attempted, failed and
the metrics (the end-to-end ones with --trace 0, the per-layer ones with
--trace 1). Scratch files go to .perfbench_work/ and trace reports to
.perfbench_out/, both at the root of the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit, the end-to-end metrics every workload reports
E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "driver_peak_rss_mb": "MB",
    "index_bytes_per_posting": "B",
}


def machine_env(work: str) -> dict:
    """Spark sizing and the environment its JVM and Python workers need:
    cores from the CPU affinity mask, driver memory from the machine's
    memory, every scratch directory inside `work`, and the checkout on the
    workers' import path so they can import pisa_spark from any cwd."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    driver_mb = max(1024, min(3072, phys_mb // 6))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
    }
    extra = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of the run back from the tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return {"cores": cores, "env": env, "extra": extra}


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def print_figures(run, workload: str, trace: bool) -> None:
    for name, value, unit, note in run.lines:
        print(f"{name} {value:.6g} {unit}" + (f"  ({note})" if note else ""))
    if not trace:
        return
    print(f"spans of {workload}: name, calls, total s, self s")
    for name, calls, total, self_s in run.spans.summary():
        print(f"  {name:48s} {calls:6d} {total:9.3f} {self_s:9.3f}")


def trace_overhead(run, out_dir: str, workload: str) -> None:
    """Traced end-to-end figures minus those of the last untraced run of the
    same workload in this checkout."""
    path = os.path.join(out_dir, f"last-untraced-{workload}.json")
    if not os.path.exists(path):
        print("trace_overhead: no untraced run of this workload to compare")
        return
    with open(path) as f:
        base = json.load(f)
    for name, value in run.e2e.items():
        b = base.get(name)
        if b:
            print(f"trace_overhead {name} {value - b:+.6g} {E2E[name]} "
                  f"({(value - b) / b:+.1%} vs untraced seed {base['seed']})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "serve", "batch"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pisa_spark")):
        print(f"pisa_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    m = machine_env(work)
    os.environ.update(m["env"])
    tempfile.tempdir = m["env"]["TMPDIR"]
    sys.path.insert(0, ROOT)

    from perfbench import layers
    from perfbench.spans import Spans
    from perfbench.workloads import WORKLOADS, Run, write_corpora
    from pisa_spark.session import get_spark

    # the corpus is written on the driver while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        corpora = pool.submit(write_corpora, work, args.seed, args.workload,
                              m["cores"])
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          cores=m["cores"], extra=m["extra"])
    try:
        spans = Spans(spark.sparkContext if args.trace else None)
        run = Run(spark=spark, seed=args.seed, seconds=args.seconds,
                  spans=spans, work=work, corpora=corpora.result(),
                  t_start=T_START)
        run.setup_part("session+corpus")
        WORKLOADS[args.workload](run)
        if args.trace:
            spans.write(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print(f"workload {args.workload} seed {args.seed} "
          f"cores {m['cores']} trace {args.trace}")
    print_figures(run, args.workload, bool(args.trace))
    if args.trace:
        trace_overhead(run, out_dir, args.workload)
        metrics = {k: {"value": v, "unit": layers.METRICS[k][0]}
                   for k, v in run.layer.items()}
    else:
        with open(os.path.join(
                out_dir, f"last-untraced-{args.workload}.json"), "w") as f:
            json.dump(dict(run.e2e, seed=args.seed), f)
        metrics = {k: {"value": run.e2e[k], "unit": u}
                   for k, u in E2E.items()}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
