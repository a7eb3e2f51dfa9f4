"""N=1,000,000 scale anchor (r7 verdict round-8 stretch): build the LSH
λτ-index, measure ANN recall@15 against the exact path, and run the
energy pipeline, all beyond every calibration point (6k/78k/313k/600k)
— proving the table schedules and resource tiers hold past the
reference's largest published N (313,841).

Disk is the known hazard at this N: round 7 measured LSH-build shuffle
spill at ~55-65 GB per million rows at F=384 with lz4, and a 1M attempt
filled the round-7 host's disk inside 10 minutes (see
measure_pbit.py's header). Two mitigations here:
  - zstd shuffle/spill compression (spark.io.compression.codec) —
    denser than the lz4 default on these float-array blocks;
  - a disk watchdog thread that cancels all jobs and writes the
    partial JSON (aborted=true + peak usage) when free space drops
    under WATCHDOG_MIN_FREE_GB, so even a failed attempt produces a
    measured, citable artifact instead of a dead host.

Usage:  python scripts/measure_1m.py          # writes BENCH_1M_r08.json
        M1M_N=800000 python scripts/measure_1m.py   # other N
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# BLAS pinning, same rationale + knobs as bench.py (set pre-numpy)
_DRIVER_BLAS = os.environ.get(
    "SPARK_GRAFT_DRIVER_BLAS_THREADS",
    os.environ.get("SPARK_GRAFT_CPUS", "32"))
_WORKER_BLAS = os.environ.get("SPARK_GRAFT_WORKER_BLAS_THREADS", "1")
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = _DRIVER_BLAS

import numpy as np
from pyspark.sql import functions as F

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.operators.search import search, search_ann
from pyarrowspace_spark.operators.simsearch import (auto_lsh_tables,
                                                    lsh_hyperplanes,
                                                    with_lsh_buckets)
from pyarrowspace_spark.params import EnergyParams, GraphParams
from pyarrowspace_spark.session import get_spark
from pyarrowspace_spark.sources.synth import ensure_clustered_corpus

N_PLANES, N_QUERIES, TOPK, TAU = 10, 50, 15, 0.62
# one source of truth for the anchor build params — the saved-edges
# sidecar (ADVICE r12: a graph saved under different params silently
# yielded a wrong recall artifact) records + asserts these at reload
BUILD_PARAMS = {"eps": 0.99, "k": 25, "topk": 15, "p": 2.0}
# 15 GB floor, 3 s polls: the first 1M attempt measured the LSH build
# spilling 43 GB in under 4 minutes (~200 MB/s across 32 tasks) — a
# 6 GB floor on 10 s polls left less than one poll of margin, the disk
# hit 0, and even the 1 KB partial-artifact write then failed ENOSPC.
WATCHDOG_MIN_FREE_GB = float(os.environ.get("M1M_MIN_FREE_GB", "15"))

_ABORT = threading.Event()
_PEAK_USED_GB = [0.0]
# Resettable per-phase peak (ADVICE r10: the per-dtype diffusion
# 'peak' read the cumulative process peak, so it included the build and
# every earlier dtype's run — the second dtype's value could never be
# lower). The main thread resets this cell to the CURRENT usage before
# a phase; the watchdog then tracks the max within the phase.
_PHASE_PEAK_GB = [0.0]


def _scratch_path(spark) -> str:
    """Filesystem the watchdog must guard: where shuffle/spill actually
    lands — $SPARK_GRAFT_SCRATCH_DIR, else the session's
    spark.local.dir (first entry of a comma list), else Spark's /tmp
    default. Probing "/" was only correct on a single-disk host
    (ADVICE r9 low: silently inert wherever scratch is a separate
    mount)."""
    p = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if not p:
        try:
            p = spark.conf.get("spark.local.dir")
        except Exception:
            p = None
        p = (p or os.environ.get("SPARK_LOCAL_DIRS")
             or "/tmp").split(",")[0].strip()
    return p if os.path.isdir(p) else "/"


def _watchdog(sc, artifact: str, out: dict, scratch: str) -> None:
    while not _ABORT.is_set():
        u = shutil.disk_usage(scratch)
        _PEAK_USED_GB[0] = max(_PEAK_USED_GB[0], u.used / 1024**3)
        _PHASE_PEAK_GB[0] = max(_PHASE_PEAK_GB[0], u.used / 1024**3)
        if u.free / 1024**3 < WATCHDOG_MIN_FREE_GB:
            _ABORT.set()
            # write the partial artifact HERE, while the floor still
            # guarantees the write succeeds — the main thread's
            # exception path races in-flight task spill on a nearly
            # full disk (the first attempt lost its artifact that way)
            out["aborted"] = True
            out["error"] = (f"disk watchdog: free fell under "
                            f"{WATCHDOG_MIN_FREE_GB} GB")
            out["disk_peak_used_gb"] = round(_PEAK_USED_GB[0], 1)
            try:
                with open(artifact, "w") as fh:
                    fh.write(json.dumps(out) + "\n")
            except Exception:
                pass
            try:
                sc.cancelAllJobs()
            except Exception:
                pass
            return
        time.sleep(3)


def _edge_recall_phase_spark(spark, big, path: str, idx, eps: float,
                             k: int, out: dict, n_sample: int = 2000,
                             seed: int = 7, sfx: str = "") -> None:
    """Distributed twin of `_edge_recall_phase` (r12 verdict finding 3:
    the driver-side estimator cost 4,209 s at N=2M — longer than some
    legs — single-threaded-ish gemm on the degraded host). Broadcasts
    the ~2000 sampled query vectors (6 MB) and scans the corpus with
    mapInPandas, each partition keeping a per-sample partial top-(k+16)
    so the collect is partitions × n_sample × (k+16) narrow rows, never
    N-sized. The driver then applies the EXACT selection rule of the
    driver estimator (eps mask, then k smallest by (dist, id)) to the
    merged candidates — identical values up to float tie-breaks, at
    32-way parallelism. Margin 16 over k absorbs cross-partition ties
    at the kth distance."""
    import pyarrow.parquet as pq
    import pandas as pd
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StructField, StructType)

    t0 = time.time()
    ids = (pq.read_table(path, columns=["item_id"])["item_id"]
           .to_numpy(zero_copy_only=False).astype(np.int64, copy=False))
    nrows = len(ids)
    rng = np.random.default_rng(seed)
    srows = rng.choice(nrows, size=min(n_sample, nrows), replace=False)
    sample_ids = ids[srows]
    qrows = big.filter(
        F.col("item_id").isin([int(v) for v in sample_ids])
    ).select("item_id", "features").collect()
    qid_to_row = {int(r["item_id"]): np.asarray(r["features"],
                                                dtype=np.float64)
                  for r in qrows}
    Q = np.stack([qid_to_row[int(v)] for v in sample_ids])
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = 1.0
    Qn = Q / qn[:, None]
    nq = len(sample_ids)
    kk = k + 16
    b_q = spark.sparkContext.broadcast((Qn, sample_ids))

    schema = StructType([
        StructField("qi", IntegerType(), False),
        StructField("dist", DoubleType(), False),
        StructField("cid", LongType(), False),
    ])

    def part_topk(batches):
        Qn_l, sids_l = b_q.value
        nq_l = len(sids_l)
        acc_d = np.full((nq_l, 0), np.inf)
        acc_i = np.full((nq_l, 0), -1, dtype=np.int64)

        def compact(d, i, keep):
            if d.shape[1] <= keep:
                return d, i
            sel = np.argpartition(d, keep - 1, axis=1)[:, :keep]
            return (np.take_along_axis(d, sel, axis=1),
                    np.take_along_axis(i, sel, axis=1))

        for pdf in batches:
            if len(pdf) == 0:
                continue
            bids = pdf["item_id"].to_numpy(dtype=np.int64)
            Xb = np.stack(pdf["features"].to_numpy()).astype(np.float64)
            bn = np.linalg.norm(Xb, axis=1)
            bn[bn == 0.0] = 1.0
            dist = 1.0 - np.maximum(Qn_l @ (Xb / bn[:, None]).T, 0.0)
            # self-exclusion: a sampled row must not count itself
            hit = np.nonzero(np.isin(bids, sids_l))[0]
            for col in hit:
                dist[np.nonzero(sids_l == bids[col])[0], col] = np.inf
            kb = min(kk, dist.shape[1])
            sel = np.argpartition(dist, kb - 1, axis=1)[:, :kb]
            acc_d = np.concatenate(
                [acc_d, np.take_along_axis(dist, sel, axis=1)], axis=1)
            acc_i = np.concatenate([acc_i, bids[sel]], axis=1)
            if acc_d.shape[1] > 4 * kk:
                acc_d, acc_i = compact(acc_d, acc_i, kk)
        acc_d, acc_i = compact(acc_d, acc_i, kk)
        m = acc_d.shape[1]
        if m:
            yield pd.DataFrame({
                "qi": np.repeat(np.arange(nq_l, dtype=np.int32), m),
                "dist": acc_d.ravel(),
                "cid": acc_i.ravel(),
            })

    rows = (big.select("item_id", "features")
            .mapInPandas(part_topk, schema=schema)
            .filter(F.col("dist") <= float(eps)).collect())
    b_q.destroy()
    cand: dict[int, list] = {}
    for r in rows:
        cand.setdefault(r["qi"], []).append((r["dist"], r["cid"]))
    exact_pairs: set = set()
    for qi in range(nq):
        cl = cand.get(qi, [])
        if not cl:
            continue
        d = np.array([c[0] for c in cl])
        ci = np.array([c[1] for c in cl], dtype=np.int64)
        keep = np.lexsort((ci, d))[:k] if len(cl) > k else np.arange(len(cl))
        a = int(sample_ids[qi])
        for c in ci[keep]:
            exact_pairs.add((min(a, int(c)), max(a, int(c))))
    sid_list = [int(v) for v in sample_ids]
    hit_rows = idx.edges.filter(
        F.col("src").isin(sid_list) | F.col("dst").isin(sid_list)
    ).select("src", "dst").collect()
    lsh_pairs = set((min(r["src"], r["dst"]), max(r["src"], r["dst"]))
                    for r in hit_rows)
    out[f"lsh_edge_recall_sampled{sfx}"] = round(
        len(exact_pairs & lsh_pairs) / max(len(exact_pairs), 1), 4)
    out[f"edge_recall_n_sample{sfx}"] = nq
    out[f"edge_recall_n_exact_pairs{sfx}"] = len(exact_pairs)
    out[f"edge_recall_sec{sfx}"] = round(time.time() - t0, 1)
    out[f"edge_recall_seed{sfx}"] = seed
    out["edge_recall_mode"] = "spark"


def _run_edge_recall(spark, big, path: str, idx, out: dict) -> None:
    """Edge-recall dispatcher: M1M_RECALL_MODE=spark (default, the
    distributed estimator) | driver (the legacy single-process one —
    kept as the parity baseline); M1M_RECALL_SEEDS="7,1013" runs the
    estimator once per seed on the SAME graph (r12 verdict task 7: the
    800k margin was 0.004 above the ≥0.95 contract on one sample —
    a second seed tells noise from an N-dependent dip). First seed
    keeps the unsuffixed field names for ledger continuity."""
    if os.environ.get("M1M_EDGE_RECALL", "0") != "1":
        return
    eps, k = BUILD_PARAMS["eps"], BUILD_PARAMS["k"]
    seeds = [int(s) for s in os.environ.get(
        "M1M_RECALL_SEEDS", "7").split(",") if s.strip()]
    mode = os.environ.get("M1M_RECALL_MODE", "spark")
    for i, sd in enumerate(seeds):
        sfx = "" if i == 0 else f"_s{sd}"
        if _ABORT.is_set():
            return
        if mode == "driver":
            _edge_recall_phase(path, idx, eps, k, out, seed=sd, sfx=sfx)
        else:
            _edge_recall_phase_spark(spark, big, path, idx, eps, k,
                                     out, seed=sd, sfx=sfx)
        # reclaim this pass's shuffle files before the next sub-phase
        # stacks its own (the r12 2M lesson)
        spark.sparkContext._jvm.System.gc()


def _edge_recall_phase(path: str, idx, eps: float, k: int, out: dict,
                       n_sample: int = 2000, seed: int = 7,
                       sfx: str = "") -> None:
    """Sampled symmetric-edge recall of the built LSH graph vs the
    exact eps/top-k graph — the same estimator bench.py pins at sf0.1
    (bench.py:_sampled_edge_recall), re-implemented on a FLAT Arrow
    read so the driver-side matrix is one N×F float64 buffer
    normalized in place (~6 GB at N=2M) instead of an object-array
    stack (r11 verdict gap 1: the 0.977 edge-recall contract was
    measured at 800k/1M only and extended to 2M by the
    grouped≡ungrouped pin — the flagship scale needs its own number).
    Driver-side by design: bench instrumentation, not an operator."""
    import pyarrow.parquet as pq

    t0 = time.time()
    tbl = pq.read_table(path, columns=["item_id", "features"])
    ids = tbl["item_id"].to_numpy()
    nrows = len(ids)
    X = (tbl["features"].combine_chunks().flatten()
         .to_numpy(zero_copy_only=False)
         .astype(np.float64, copy=False).reshape(nrows, -1))
    del tbl
    # The Arrow-backed buffer is READ-ONLY (zero-copy view) — so no
    # in-place normalization of X; fold both norms into each gemm
    # block instead, which also skips the full-size U copy.
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0.0] = 1.0
    rng = np.random.default_rng(seed)
    srows = rng.choice(nrows, size=min(n_sample, nrows), replace=False)
    exact_pairs: set = set()
    # 128-row chunks keep the chunk×N distance block ≤ ~2 GB at N=2M
    for c0 in range(0, len(srows), 128):
        rows = srows[c0:c0 + 128]
        cos = (X[rows] / norms[rows, None]) @ X.T
        cos /= norms[None, :]
        dist = 1.0 - np.maximum(cos, 0.0)
        for r, row in enumerate(rows):
            drow = dist[r]
            mask = (drow <= eps) & (ids != ids[row])
            cand = np.nonzero(mask)[0]
            if cand.size > k:
                cand = cand[np.lexsort((ids[cand], drow[cand]))[:k]]
            for c in cand:
                a, b = int(ids[row]), int(ids[c])
                exact_pairs.add((min(a, b), max(a, b)))
    del X
    sample_ids = [int(ids[r]) for r in srows]
    hit_rows = idx.edges.filter(
        F.col("src").isin(sample_ids) | F.col("dst").isin(sample_ids)
    ).select("src", "dst").collect()
    lsh_pairs = set((min(r["src"], r["dst"]), max(r["src"], r["dst"]))
                    for r in hit_rows)
    out[f"lsh_edge_recall_sampled{sfx}"] = round(
        len(exact_pairs & lsh_pairs) / max(len(exact_pairs), 1), 4)
    out[f"edge_recall_n_sample{sfx}"] = len(sample_ids)
    out[f"edge_recall_n_exact_pairs{sfx}"] = len(exact_pairs)
    out[f"edge_recall_sec{sfx}"] = round(time.time() - t0, 1)
    out[f"edge_recall_seed{sfx}"] = seed
    out["edge_recall_mode"] = "driver"


def _search_and_energy_phases(spark, big, idx, n: int, out: dict) -> None:
    """ANN recall, exact-vs-ANN 50-query search, and the energy
    pipeline (graph reuse) — the full-anchor phases skipped by
    M1M_DD_ONLY=1. M1M_SKIP_ENERGY=1 keeps the ANN/exact phases but
    skips the energy pipeline (at N=2M build_energy's 4-step diffusion
    is its own multi-thousand-second anchor; the dedicated
    M1M_DIFFUSE_DIST_STEPS phase times diffusion per step instead)."""
    n_tables = auto_lsh_tables(N_PLANES, target_recall=0.95, n_items=n)
    out["ann_n_tables"] = n_tables
    planes = lsh_hyperplanes(384, n_tables=n_tables, n_planes=N_PLANES)
    t0 = time.time()
    hashed = with_lsh_buckets(
        idx.items.select("item_id", "features", "e_raw", "g"),
        planes).persist()
    hashed.count()
    out["ann_hash_sec"] = round(time.time() - t0, 1)

    qrows = (big.filter(F.col("item_id") < 5 * N_QUERIES)
             .orderBy("item_id").limit(N_QUERIES).collect())
    qmat = np.array([r["features"] for r in qrows]) * 1.05
    qdf = spark.createDataFrame(
        [(int(i), [float(v) for v in qmat[i]])
         for i in range(len(qmat))],
        schema="query_id long, features array<double>")

    t0 = time.time()
    exact_sets: dict[int, set] = {}
    for r in search(idx.items, idx.feature_laplacian, qmat, tau=TAU,
                    k=TOPK).select("query_id", "item_id").collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["item_id"])
    out["exact_search_50q_sec"] = round(time.time() - t0, 1)
    # Reclaim the exact pass's shuffle files before the ANN pass piles
    # its own on top (the r12 2M leg tripped the disk watchdog HERE at
    # 80.2 GB peak: build spools + exact-search shuffles + ANN-search
    # shuffles stacked uncollected — the same lesson the grouped build
    # loop already applies per group).
    spark.sparkContext._jvm.System.gc()

    t0 = time.time()
    ann_sets: dict[int, set] = {}
    for r in search_ann(hashed, idx.feature_laplacian, qdf, tau=TAU,
                        k=TOPK, planes=planes
                        ).select("query_id", "item_id").collect():
        ann_sets.setdefault(r["query_id"], set()).add(r["item_id"])
    out["ann_search_50q_sec"] = round(time.time() - t0, 1)
    recalls = [len(ann_sets.get(q, set()) & hits) / max(len(hits), 1)
               for q, hits in exact_sets.items()]
    out["ann_recall_at_15"] = round(float(np.mean(recalls)), 4)
    hashed.unpersist()

    if os.environ.get("M1M_SKIP_ENERGY", "0") == "1":
        return

    # energy pipeline, graph reuse (same shape as the 313k anchor)
    from pyarrowspace_spark.operators.energy import (build_energy,
                                                     search_energy)

    t0 = time.time()
    eidx = build_energy(
        big, EnergyParams(eta=0.05, steps=4, optical_tokens=40),
        GraphParams(eps=0.99, k=25, topk=15, p=2.0), edges=idx.edges)
    eidx.items.count(), eidx.centroids.count()
    out["energy_build_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    search_energy(eidx, qmat, k=TOPK,
                  query_ids=list(range(len(qmat)))).collect()
    out["energy_search_50q_sec"] = round(time.time() - t0, 1)


def _run_dd_phase(spark, big, idx, out: dict, scratch: str) -> None:
    """Distributed-diffusion scale anchor (r8/r9 verdict task: the
    beyond-broadcast tier — the only tier legal at 100× scale — had
    never been timed past N=313k because the driver tier keeps winning
    eligibility). M1M_DIFFUSE_DIST_STEPS>0 forces the distributed tier
    on the λτ-graph for that many instrumented steps (one eager job
    per step over the fp64 iterate spool, so peak scratch ≈ 3·N·F·8
    regardless of count). Shared by the build path and the
    M1M_EDGES_PATH (saved-graph) path."""
    dd_steps = int(os.environ.get("M1M_DIFFUSE_DIST_STEPS", "0"))
    if dd_steps <= 0:
        return
    from pyarrowspace_spark.functions import matrix as matrix_mod
    from pyarrowspace_spark.operators import energy as energy_mod

    budget0 = matrix_mod.DRIVER_BUDGET_BYTES
    matrix_mod.DRIVER_BUDGET_BYTES = 0
    try:
        # reset the per-phase peak to CURRENT usage so the reported
        # peak is this phase's own, not the cumulative process max
        # (ADVICE r10)
        _PHASE_PEAK_GB[0] = shutil.disk_usage(scratch).used / 1024**3
        t0 = time.time()
        info: dict = {}
        energy_mod.diffuse(big, idx.edges, eta=0.05, steps=dd_steps,
                           info=info).count()
        out["diffuse_dist_total_sec"] = round(time.time() - t0, 1)
        out["diffuse_dist_step_secs"] = info.get("step_sec", [])
        out["diffuse_dist_peak_used_gb"] = round(_PHASE_PEAK_GB[0], 1)
        if info:
            out["diffuse_dist_n_sym_edges"] = info["n_sym_edges"]
            out["diffuse_dist_plan"] = info.get("plan")
    finally:
        matrix_mod.DRIVER_BUDGET_BYTES = budget0


def main() -> None:
    n = int(os.environ.get("M1M_N", "1000000"))
    out: dict[str, object] = {
        "n": n, "n_planes": N_PLANES, "topk": TOPK, "aborted": False,
        "blas_threads_driver": int(_DRIVER_BLAS),
        "blas_threads_worker": int(_WORKER_BLAS),
        # the first 800k attempt OOM'd the 16g-default driver JVM heap
        # inside build_energy's Arrow collect (local mode: driver ==
        # executor, so the heap also carries 32 task threads' shuffle
        # state); the artifact must pin the heap it ran under
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "loadavg_start": [round(v, 2) for v in os.getloadavg()],
    }
    # host probes (same trio as bench.py: warm memcpy + fixed gemm)
    _buf = np.random.standard_normal(100_000_000 // 8)
    _t0 = time.time(); _buf2 = _buf.copy()
    out["host_memcpy_gbps"] = round(0.1 / max(time.time() - _t0, 1e-9), 2)
    _t0 = time.time(); _buf2[:] = _buf
    out["host_memcpy_warm_gbps"] = round(
        0.1 / max(time.time() - _t0, 1e-9), 2)
    del _buf, _buf2
    _a = np.random.standard_normal((1024, 1024))
    _a @ _a
    _t0 = time.time()
    for _ in range(4):
        _a @ _a
    out["host_gemm_gflops"] = round(
        4 * 2 * 1024**3 / 1e9 / max(time.time() - _t0, 1e-9), 1)
    # Buffered disk-write probe (r11): the leg-1 r11b run localized its
    # slowdown to the host's buffered writeback path — the hash stage
    # wrote its 4.4 GB shuffle at ~20 MB/s while O_DIRECT measured
    # 276 MB/s and the gemm probe was the fastest ever recorded.
    # Spark shuffle/spool writes are buffered, so THIS number (not
    # gemm/memcpy) prices every shuffle-bound stage; artifacts must
    # carry it for cross-host attribution. 256 MB fdatasync'd write to
    # the scratch filesystem.
    # Probe the device Spark actually shuffles/spools to (ADVICE r11:
    # a hardcoded /tmp misattributes stage cost when
    # $SPARK_GRAFT_SCRATCH_DIR points at a different filesystem).
    _probe_dir = os.environ.get("SPARK_GRAFT_SCRATCH_DIR") or "/tmp"
    if not os.path.isdir(_probe_dir):
        _probe_dir = "/tmp"
    try:
        _blk = b"\0" * (8 << 20)
        _t0 = time.time()
        import tempfile as _tf
        with _tf.NamedTemporaryFile(dir=_probe_dir, buffering=0) as _fh:
            for _ in range(32):
                _fh.write(_blk)
            os.fdatasync(_fh.fileno())
        out["host_diskwrite_mbps"] = round(
            256 / max(time.time() - _t0, 1e-9), 1)
        out["host_diskwrite_dir"] = _probe_dir
        del _blk
    except OSError:
        out["host_diskwrite_mbps"] = None
    try:
        with open("/proc/cpuinfo") as _fh:
            for _ln in _fh:
                if _ln.startswith("model name"):
                    out["host_cpu_model"] = _ln.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    del _a

    # Dedicated per-PROCESS Spark scratch (r12: the driver bench died
    # to a blockmgr temp_shuffle file vanishing under /tmp mid-write —
    # root-caused in r13 to a concurrent chain's bulk `rm blockmgr-*`;
    # pid-named subdirs make cross-process cleanup impossible, and
    # dead runs' leftovers are reaped by liveness, not pattern).
    from pyarrowspace_spark.session import scratch_run_dir

    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_scratch = scratch_run_dir(
        os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
        or os.path.join(repo_dir, ".sparkscratch"))
    spark = get_spark("measure-1m", extra_conf={
        "spark.io.compression.codec": "zstd",
        "spark.local.dir": spark_scratch,
        **{f"spark.executorEnv.{v}": _WORKER_BLAS
           for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                     "MKL_NUM_THREADS")},
    })
    import __spark_entry__ as entry_mod

    entry_mod._ship_package(spark)
    scratch = _scratch_path(spark)
    out["scratch_path"] = scratch
    out["disk_free_start_gb"] = round(
        shutil.disk_usage(scratch).free / 1024**3, 1)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # artifact name tracks N and the round tag (BENCH_1M_r10.json at
    # the defaults, BENCH_800k_r10.json at M1M_N=800000, ...)
    label = "1M" if n == 1_000_000 else f"{n // 1000}k"
    tag = os.environ.get("M1M_TAG", "r10")
    artifact = os.path.join(repo, f"BENCH_{label}_{tag}.json")
    threading.Thread(target=_watchdog,
                     args=(spark.sparkContext, artifact, out, scratch),
                     daemon=True).start()
    cache = os.path.join(repo, ".benchdata")
    path = ensure_clustered_corpus(cache, n=n, f=384)
    big = spark.read.parquet(path).select("item_id", "features")

    def finish(partial: bool) -> None:
        out["aborted"] = partial
        out["disk_peak_used_gb"] = round(_PEAK_USED_GB[0], 1)
        out["disk_free_end_gb"] = round(
            shutil.disk_usage(scratch).free / 1024**3, 1)
        out["loadavg_end"] = [round(v, 2) for v in os.getloadavg()]
        line = json.dumps(out)
        with open(artifact, "w") as fh:
            fh.write(line + "\n")
        try:
            spark.stop()
        except Exception:
            pass
        print(line, flush=True)

    # M1M_EDGES_PATH: reuse a previously SAVED λτ-graph instead of
    # rebuilding (the r12 2M leg spent ~92 min rebuilding a graph an
    # earlier leg had already built and thrown away before its
    # diffusion phase could run). Build-dependent phases (ANN/exact/
    # energy, group metrics) are skipped — the edge list plus the
    # corpus is exactly what the edge-recall and diffusion phases
    # need. M1M_SAVE_EDGES: persist this build's edges for such a leg.
    edges_path = os.environ.get("M1M_EDGES_PATH")
    save_edges = os.environ.get("M1M_SAVE_EDGES")
    try:
        if edges_path:
            class _EdgesOnly:
                pass

            # Params sidecar (ADVICE r12): the recall/diffusion phases
            # below assume the saved graph was built with BUILD_PARAMS
            # at this N — a graph saved under different params would
            # silently yield a wrong artifact. Assert when the sidecar
            # exists; record the assumption honestly when it doesn't
            # (edge lists saved before r13 carry no sidecar).
            sidecar_p = edges_path.rstrip("/") + ".params.json"
            if os.path.exists(sidecar_p):
                with open(sidecar_p) as fh:
                    saved_params = json.load(fh)
                out["edges_params"] = saved_params
                mismatch = {
                    kk: (saved_params.get(kk), vv)
                    for kk, vv in dict(BUILD_PARAMS, n=n).items()
                    if saved_params.get(kk) != vv}
                if mismatch:
                    raise RuntimeError(
                        f"saved edges at {edges_path} were built with "
                        f"{mismatch} (saved, expected) — refusing to "
                        f"produce a mislabeled artifact")
            else:
                out["edges_params_assumed"] = dict(BUILD_PARAMS, n=n)
            idx = _EdgesOnly()
            idx.edges = spark.read.parquet(edges_path).persist()
            out["edges_loaded_from"] = edges_path
            out["n_edges_loaded"] = idx.edges.count()
            _run_edge_recall(spark, big, path, idx, out)
            # M1M_ANN_PHASE=1: reconstruct the FULL index from the
            # saved graph (λ/L_F/τ stages only — ~10 min at 2M vs a
            # ~60 min full rebuild) and run the ANN/exact search
            # phases in THIS fresh process. Motivation (r13 leg 1,
            # same failure as r12): the ANN phase needs ~53 GB of
            # scratch on top of whatever the build process still
            # holds (persisted items/hashed tables, pair spools,
            # exact-search shuffles) — in the build's own JVM that
            # stack tripped the disk watchdog at 80 GB twice; a
            # fresh JVM starts the phase from a clean scratch.
            if os.environ.get("M1M_ANN_PHASE", "0") == "1":
                t0 = time.time()
                idx_full = ArrowSpaceBuilder.build(
                    big, dict(BUILD_PARAMS), strategy="lsh",
                    edges=idx.edges)
                idx_full.items.count()
                out["lambda_rebuild_sec"] = round(time.time() - t0, 1)
                spark.sparkContext._jvm.System.gc()
                if not _ABORT.is_set():
                    _search_and_energy_phases(spark, big, idx_full, n,
                                              out)
            _run_dd_phase(spark, big, idx, out, scratch)
            finish(partial=bool(_ABORT.is_set()))
            return
        t0 = time.time()
        idx = ArrowSpaceBuilder.build(big, dict(BUILD_PARAMS),
                                      strategy="lsh")
        idx.items.count(), idx.edges.count()
        out["build_sec"] = round(time.time() - t0, 1)
        out["build_items_per_sec"] = round(n / (time.time() - t0), 1)
        if save_edges:
            t0 = time.time()
            idx.edges.write.mode("overwrite").parquet(save_edges)
            with open(save_edges.rstrip("/") + ".params.json",
                      "w") as fh:
                json.dump(dict(BUILD_PARAMS, n=n, strategy="lsh",
                               corpus_path=path), fh)
            out["edges_saved_to"] = save_edges
            out["edges_save_sec"] = round(time.time() - t0, 1)
        # per-band-group pair-spool sizes + disk free (r10: the data
        # needed to fix the group budget that under-split at N=2M)
        ginfo = (idx.lsh_build_info or {}).get("groups")
        if ginfo:
            out["lsh_group_spool_gb"] = [
                round(g["spool_bytes"] / 1024**3, 3) for g in ginfo]
            out["lsh_group_disk_free_gb"] = [
                round(g["disk_free_bytes"] / 1024**3, 1) for g in ginfo]
            out["lsh_group_secs"] = [g.get("sec") for g in ginfo]
            out["lsh_group_n_bands"] = [
                len(g.get("bands", [])) for g in ginfo]
            # r11: per-stage wall/spill/shuffle metrics inside each
            # group (from the UI REST API) — localizes whether a
            # group's time/disk goes to the sort spill or the
            # pair-merge shuffle, the question the 2M postmortem left
            out["lsh_group_stages"] = [
                g.get("stages", []) for g in ginfo]
        # Whole-app heavy-stage summary: the 800k r11 group data showed
        # ZERO sort spill inside the group loop, which relocates the
        # r10 2M disk blowup suspicion to the POST-group dedupe/window/
        # symmetrize shuffles — capture the top stages by bytes so an
        # abort (or a success) localizes them too.
        try:
            from pyarrowspace_spark.operators.knn import _stages_since

            allst = _stages_since(spark, -1)
            allst.sort(key=lambda s: -(s["shuffle_write_gb"]
                                       + s["disk_spill_gb"]))
            out["top_stages_by_bytes"] = allst[:12]
            allst.sort(key=lambda s: -(s["wall_sec"] or 0))
            out["top_stages_by_wall"] = allst[:12]
        except Exception:
            pass

        # M1M_EDGE_RECALL=1: sampled edge recall vs the exact graph,
        # right after the build (same eps/k as BUILD_PARAMS).
        spark.sparkContext._jvm.System.gc()
        _run_edge_recall(spark, big, path, idx, out)

        # M1M_DD_ONLY=1: skip the ANN/exact/energy phases (~25 min at
        # N=313k) — the dtype-comparison run only needs the λτ-graph
        # build plus the instrumented distributed-diffusion section.
        dd_only = os.environ.get("M1M_DD_ONLY", "0") == "1"
        if not dd_only:
            _search_and_energy_phases(spark, big, idx, n, out)

        _run_dd_phase(spark, big, idx, out, scratch)
    except Exception as e:
        out["error"] = f"{type(e).__name__}: {e}"[:500]
        finish(partial=True)
        return
    if _ABORT.is_set():
        out["error"] = "disk watchdog tripped"
        finish(partial=True)
        return
    finish(partial=False)


if __name__ == "__main__":
    main()
