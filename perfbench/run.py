"""Repeatable benchmark of pyarrowspace_spark on local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

One process, one Spark session, one closed-loop client. The workload
seed drives every generated input. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics. The line before it is a detail record
(host probes, recalls, sample counts). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "serve")

# Free disk the largest workload needs for shuffle, spill and spools.
MIN_FREE_GB = 2.0


def _fail(msg: str, code: int) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def _host_env(run_dir: str) -> int:
    """Size the process for this host; must run before numpy loads,
    because OpenBLAS reads its thread count at library init."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # The driver's BLAS pool is as wide as the host (its serial kernels
    # run while executors idle); each Python worker gets one thread,
    # since the parallelism is the tasks (spark.executorEnv.*).
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = str(cores)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb / 4)))}g"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Everything the driver, the JVM and the Python workers write lands
    # inside this run's directory.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "scratch")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    return cores


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("pyarrowspace_spark/__init__.py", "__spark_entry__.py",
                 "check_oracle.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a checkout "
                  f"of the repository", 2)

    run_dir = os.path.join(HERE, ".runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "scratch"), exist_ok=True)
    free_gb = shutil.disk_usage(run_dir).free / 2**30
    if free_gb < MIN_FREE_GB:
        shutil.rmtree(run_dir, ignore_errors=True)
        _fail(f"only {free_gb:.1f} GB free under {run_dir}; "
              f"need {MIN_FREE_GB} GB", 3)
    t_process = time.perf_counter()
    cores = _host_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        import harness
        import workloads

        ctx = harness.Context(
            root=ROOT, run_dir=run_dir, cache_dir=os.path.join(HERE, ".cache"),
            seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            cores=cores, t_process=t_process)
        result = harness.run(ctx, workloads.WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result["detail"]), flush=True)
    print(json.dumps(result["line"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
