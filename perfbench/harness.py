"""Run one workload: session, set-up, closed-loop timed phase, checks,
host probes and the result record.

A workload is a class built from a `Context`. It provides
`setup()`, `cycle(rng) -> list[Request]` (one seeded round of
requests, each with a fixed kind) and `verify() -> set[str]` (the
request kinds whose outputs failed a post-run check), and its
`RATED` names the request kinds that count in `work_per_s`. The harness
runs whole cycles until the next one would end past `--seconds`
(always at least one), so every run has the same request mix.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import probes
import spans as tracing


class CheckFailed(Exception):
    """An operation returned an output that fails its check."""


@dataclass
class Request:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], None]
    # items or queries the request completes
    units: float


@dataclass
class Record:
    kind: str
    seconds: float
    ok: bool
    units: float


@dataclass
class Context:
    root: str
    run_dir: str
    cache_dir: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    t_process: float
    spark: Any = None
    tracer: Any = None
    detail: dict = field(default_factory=dict)

    def span(self, name: str):
        """A benchmark-owned span; a no-op when tracing is off."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def _session(ctx: Context):
    from pyarrowspace_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.local.dir": os.path.join(ctx.run_dir, "scratch"),
        # serve runs hundreds of jobs; keep them all for the stage
        # metrics the traced run reads back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        **{f"spark.executorEnv.{v}": "1"
           for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                     "MKL_NUM_THREADS")},
    })


def _timed_phase(ctx: Context, wl) -> list[Record]:
    rng = np.random.default_rng([ctx.seed, 2])
    records: list[Record] = []
    cycle_secs: list[float] = []
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds
    while True:
        c0 = time.perf_counter()
        for req in wl.cycle(rng):
            s = time.perf_counter()
            try:
                out = req.run()
            except Exception:
                records.append(Record(req.kind, time.perf_counter() - s,
                                      False, req.units))
                print(f"[perfbench] {req.kind} raised:\n"
                      f"{traceback.format_exc()}", file=sys.stderr)
                continue
            dt = time.perf_counter() - s
            ok = True
            try:
                req.check(out)
            except CheckFailed as e:
                ok = False
                print(f"[perfbench] {req.kind} check failed: {e}",
                      file=sys.stderr)
            records.append(Record(req.kind, dt, ok, req.units))
        cycle_secs.append(time.perf_counter() - c0)
        if time.perf_counter() + statistics.median(cycle_secs) > deadline:
            break
    ctx.detail["cycles"] = len(cycle_secs)
    return records


def _geomean(values) -> float:
    logs = [math.log(v) for v in values]
    return math.exp(sum(logs) / len(logs))


def _vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _leaked_dirs(run_dir: str) -> int:
    """`pyarrowspace-*` spool dirs under this run's directory that no
    owner will remove: live spools backing a cached frame are on the
    package's exit-cleanup list and do not count."""
    from pyarrowspace_spark.functions import matrix

    owned = set(matrix._SCRATCH_DIRS)
    n = 0
    for base, dirs, _ in os.walk(run_dir):
        n += sum(1 for d in dirs if d.startswith("pyarrowspace-")
                 and os.path.join(base, d) not in owned)
        if base.count(os.sep) - run_dir.count(os.sep) >= 2:
            dirs[:] = []
    return n


def run(ctx: Context, workload_cls) -> dict:
    load_start = os.getloadavg()
    ctx.spark = _session(ctx)
    session_s = time.perf_counter() - ctx.t_process
    if ctx.trace:
        ctx.tracer = tracing.Tracer(ctx.spark, ctx.cores)
        ctx.tracer.install()
    phase = (ctx.tracer.phase if ctx.tracer is not None
             else lambda name: contextlib.nullcontext())
    wl = workload_cls(ctx)
    with phase("setup"):
        wl.setup()
    setup_s = time.perf_counter() - ctx.t_process
    with phase("check"):
        getattr(wl, "prepare_checks", lambda: None)()

    t_setup_end = time.perf_counter()
    tw0 = time.time()
    with phase("timed"):
        records = _timed_phase(ctx, wl)
    tw1 = time.time()
    driver_rss_mb = _vm_hwm_mb()

    t_check = time.perf_counter()
    with phase("check"):
        bad_kinds = wl.verify()
    for r in records:
        if r.kind in bad_kinds:
            r.ok = False
    leaked = _leaked_dirs(ctx.run_dir)

    ok = [r for r in records if r.ok]
    by_kind: dict[str, list[float]] = {}
    for r in ok:
        by_kind.setdefault(r.kind, []).append(r.seconds)
    kind_p50_ms = {k: statistics.median(v) * 1e3 for k, v in by_kind.items()}
    rated = [r for r in ok if r.kind in wl.RATED]
    busy = sum(r.seconds for r in rated)
    e2e = {
        "setup_s": setup_s,
        # one figure per request kind, so the mix's proportions and a
        # single slow request move it little
        "p50_gmean_ms": _geomean(kind_p50_ms.values()) if ok else 0.0,
        "work_per_s": sum(r.units for r in rated) / busy if busy else 0.0,
        "driver_peak_rss_mb": driver_rss_mb,
    }
    units = {"setup_s": "s", "p50_gmean_ms": "ms", "work_per_s": "1/s",
             "driver_peak_rss_mb": "MB"}

    jvm_rss_mb = _vm_hwm_mb(
        ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    if ctx.tracer is not None:
        layer = ctx.tracer.collect(tw0, tw1, leaked, jvm_rss_mb)
        ctx.tracer.uninstall()
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}

    ctx.detail.update({
        "workload": type(wl).__name__, "seed": ctx.seed,
        "seconds": ctx.seconds, "trace": ctx.trace, "cores": ctx.cores,
        "end_to_end": e2e,
        "samples": {k: len(v) for k, v in by_kind.items()},
        "kind_p50_ms": kind_p50_ms,
        "failed_kinds": sorted({r.kind for r in records if not r.ok}),
        "phase_s": {"session": session_s, "setup": setup_s - session_s,
                    "prepare_checks": t_setup_end - ctx.t_process - setup_s,
                    "timed": tw1 - tw0,
                    "checks": time.perf_counter() - t_check},
        "scratch_leaked_dirs": leaked,
        "jvm_peak_rss_mb": jvm_rss_mb,
        "loadavg_start": list(load_start),
        **probes.host_probes(os.path.join(ctx.run_dir, "scratch")),
        "loadavg_end": list(os.getloadavg()),
    })
    ctx.spark.stop()
    # The JVM exits when its stdin closes; wait for it, so that no
    # process of this run outlives it.
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    failed = sum(1 for r in records if not r.ok)
    return {
        "detail": ctx.detail,
        "line": {"correct": failed == 0 and leaked == 0,
                 "attempted": len(records), "failed": failed,
                 "metrics": metrics},
    }
