"""Spectral index (λ) computation — the distinctive core of the engine.

Math pinned by the reference design docs and the test_0 golden rankings
(see tests/test_golden_test0.py for the parity record):

- F×F feature Laplacian  L_F = Xᵀ L X  where L = D - W is the item
  λτ-graph Laplacian ("feature-space Laplacian … built from item graph
  signals", GRAPH_VARIABLES.md:17, TAUMODE.md:12;
  GraphFactory::build_spectral_laplacian).
- e_raw(x)   = xᵀ L_F x        (TAUMODE.md:18,24 *documents* the
  normalized Rayleigh quotient xᵀLx/xᵀx, but reproducing the golden
  τ=0.9 ranking of reference tests/test_0.py:35-42 requires the
  *unnormalized* quadratic form — the reference's query λ is
  scale-sensitive in practice, so we pin the form that matches the
  observable behavior over the doc; see GOLDEN_PARITY.md §3).
- e_bounded  = e/(e+τ)          (TAUMODE.md:19,25)
- g_raw      = Σ s_ij²,  s_ij = w_ij(x_i-x_j)²/Σ w_uv(x_u-x_v)²,
  w_ij = max(0, -L_F[i,j])      (TAUMODE.md:26)
- g_clamped  = clip(g_raw,0,1)  (TAUMODE.md:27)
- S(x)       = τ·e_bounded + (1-τ)·g_clamped   (TAUMODE.md:8)

Build-time τ uses Median synthesis: τ_synth = median(e_raw) over items
(reference log "synthesis=Median", tests/output/1760705545_v0_16/
suggested_eps.md:3).

Scale design: L_F is F×F (384² ≈ 1.2 MB) — tiny. It is aggregated
DISTRIBUTEDLY from per-partition partials (mapInPandas → driver sum),
then broadcast back for the per-item λ pass, which is a narrow,
Arrow-batched vectorized map. No N×N materialization anywhere.
"""

from __future__ import annotations

import os
import re
import warnings
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# Up to this many rows the F×F Laplacian is assembled by broadcasting X
# and gathering endpoint rows per edge partition (zero vector shuffle).
# ~2M × 384 float64 = 6 GB broadcast — the executor-memory ceiling on
# this machine class; beyond it the join path is the only legal plan.
BROADCAST_GATHER_MAX_ROWS = 2_000_000

# Above this many rows the gather tier ships X as float32 by default
# (env override SPARK_GRAFT_LF_X_DTYPE = float32|float64|auto): the
# gather stage is page-in/transfer bound at scale — r11's 313k
# postmortem measured all 32 tasks blocking together on the shared X
# mmap, ~30 s of math inside a 148.8 s stage (31% of the flagship
# build's wall) — and fp32 halves the shipped bytes. Partials still
# ACCUMULATE in float64 (edge_partials upcasts before every gemm), so
# the error enters only via fp32 rounding of X itself (~6e-8 relative
# per entry, the same class as the pinned fp32 diffusion-message
# bound). Below the threshold exactness is free, so fp64 stays.
LF_X_F32_MIN_ROWS = 100_000

# Which spool producer the LAST gather-tier run actually used
# ("scan" = streamed from the corpus parquet, "collect" = Spark
# collect, "broadcast" = no worker-visible scratch): instrumentation
# so A/B artifacts record the path that RAN, not the one requested —
# the scan path falls back silently by design (r13: a cache-
# substituted plan made it fall back invisibly and the first A/B
# measured collect against collect).
_LAST_GATHER_SPOOL = [None]

# one-time-per-process flag for the fp32 auto-ship warning (ADVICE r12:
# the analogous fp32 diffusion-message default fires a UserWarning on
# first engagement; auto fp32 X shipping shifts stored L_F/λ ~1e-7 when
# a growing corpus crosses LF_X_F32_MIN_ROWS and deserves the same
# visibility)
_WARNED_F32_AUTO = [False]

# Spool permissions (ADVICE r12: 0o755/0o644 made the spooled corpus
# matrix world-readable on a shared scratch filesystem). Default is
# group-readable only; genuinely cross-user deployments where executors
# run under a different primary group opt into other-read explicitly.
def _spool_modes() -> tuple[int, int]:
    if os.environ.get("SPARK_GRAFT_SCRATCH_WORLD_READABLE", "0") == "1":
        return 0o755, 0o644
    return 0o750, 0o640


def _probe_worker_visible(spark, scratch_dir: str) -> bool:
    """True iff executors can read files the driver writes under
    `scratch_dir` — a tiny marker file verified by Spark tasks.
    Auto ship-mode safety (ADVICE r11): a set $SPARK_GRAFT_SCRATCH_DIR
    on a remote-executor master may be driver-local spooling space, and
    trusting it blindly makes auto mode pick an impossible mmap plan
    (loud FileNotFoundError mid-stage). The probe runs one task per
    defaultParallelism slot and requires ALL to see the marker (ADVICE
    r12: a single task can land on the one executor that mounts the
    path). Best-effort, not a guarantee: task placement is the
    scheduler's, so a heterogeneous cluster can still pass the probe
    and fail mid-stage — that residual risk is why the broadcast
    fallback stays selectable via SPARK_GRAFT_LF_SHIP=broadcast. Any
    probe failure (unwritable dir, job error, any False) means 'not
    visible' — the broadcast fallback is always legal."""
    import tempfile as _tf
    import uuid as _uuid

    _, fmode = _spool_modes()
    token = _uuid.uuid4().hex
    try:
        fd, marker = _tf.mkstemp(prefix="pyarrowspace-visprobe-",
                                 suffix=".txt", dir=scratch_dir)
        with os.fdopen(fd, "w") as fh:
            fh.write(token)
        os.chmod(marker, fmode)
    except OSError:
        return False
    try:
        def _check(it):
            try:
                with open(marker) as fh:
                    ok = fh.read() == token
            except OSError:
                ok = False
            for _ in it:
                pass
            yield ok

        sc = spark.sparkContext
        n_slots = max(2, int(sc.defaultParallelism))
        got = sc.parallelize(range(n_slots), n_slots).mapPartitions(
            _check).collect()
        return bool(got) and all(got)
    except Exception:
        return False
    finally:
        try:
            os.remove(marker)
        except OSError:
            pass


_PLAN_ENTRY_RX = re.compile(
    r"^(\w+)#\d+\w*(?:\s+AS\s+(\w+)#\d+\w*)?$")


def parquet_scan_source(df: DataFrame, id_col: str,
                        feat_col: str) -> dict | None:
    """When `df` is a TRIVIAL local-parquet scan — pure column
    projection (plain attribute references / renames only, no
    expressions, filters, joins, or samples) over one parquet relation
    — return {"files": [...], "id_col": <source name>,
    "feat_col": <source name>}; else None.

    Used by the λ gather tier to build its mmap spool by STREAMING the
    already-written corpus parquet on the driver instead of a full
    Spark collect (r12 verdict: the collect pays one JVM serialization
    pass over all N rows plus a ~3× driver-memory transient that the
    chunked pyarrow read never allocates). Conservative by
    construction: any plan node or projection entry the whitelist
    can't PROVE is a plain rename returns None and the caller falls
    back to the collect path — wrong-data risk zero, lost-optimization
    risk only."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        files = [re.sub(r"^file:/*", "/", f) if f.startswith("file:")
                 else f for f in df.inputFiles()]
    except Exception:
        return None
    files = [f for f in files if f]
    if not files or not all(os.path.isfile(f) for f in files):
        return None
    src_of: dict[str, str] = {}
    n_projects = n_relations = 0
    for raw in plan.splitlines():
        line = raw.strip().lstrip(":+- ").strip()
        if not line:
            continue
        if line.startswith("Project ["):
            n_projects += 1
            body = line[len("Project ["):]
            if not body.endswith("]"):
                return None
            for entry in body[:-1].split(", "):
                m = _PLAN_ENTRY_RX.match(entry.strip())
                if m is None:
                    return None  # any expression/paren → not trivial
                src, out = m.group(1), m.group(2) or m.group(1)
                src_of[out] = src
        elif line.startswith("Relation"):
            n_relations += 1
            if " parquet" not in line:
                return None
        else:
            return None
    # exactly one relation, at most ONE Project: with a single Project
    # the out→src mapping is direct (rename chains across stacked
    # Projects would need composition — Catalyst collapses adjacent
    # Projects, so requiring one loses nothing and risks nothing)
    if n_relations != 1 or n_projects > 1:
        return None
    return {"files": files, "id_col": src_of.get(id_col, id_col),
            "feat_col": src_of.get(feat_col, feat_col)}


def _stream_spool_from_parquet(x_source: dict, n: int, fdim: int,
                               dtype, x_path: str):
    """Write the gather spool `x_path` (.npy, id-SORTED row order) by
    streaming the corpus parquet files chunk-by-chunk — driver peak
    memory is one record batch instead of the collect path's full
    N×F matrix plus its serialization transient. Returns
    (sorted_ids, order=arange) on success, None on ANY mismatch
    (row count, ragged vectors, duplicate ids, missing columns) — the
    caller falls back to the collect path.

    Sorted storage order is load-bearing for the gather stage: the
    edge scan is sorted by src within partitions, so `X[si]` walks the
    mmap monotonically instead of random-paging it (r12 verdict
    finding 1: the λ gather was 33% of the flagship build and
    page-in-bound)."""
    import pyarrow.parquet as pq

    idc, fc = x_source["id_col"], x_source["feat_col"]
    try:
        ids_parts = []
        for f in x_source["files"]:
            ids_parts.append(
                pq.read_table(f, columns=[idc])[idc]
                .to_numpy(zero_copy_only=False))
        ids_arr = np.concatenate(ids_parts).astype(np.int64, copy=False)
        if len(ids_arr) != n:
            return None
        s_ids = np.sort(ids_arr)
        if s_ids.size > 1 and np.any(s_ids[1:] == s_ids[:-1]):
            return None  # duplicate ids → scatter would corrupt rows
        X = np.lib.format.open_memmap(
            x_path, mode="w+", dtype=dtype, shape=(n, fdim))
        total = 0
        for f in x_source["files"]:
            pf = pq.ParquetFile(f)
            for batch in pf.iter_batches(batch_size=16384,
                                         columns=[idc, fc]):
                bids = (batch.column(batch.schema.get_field_index(idc))
                        .to_numpy(zero_copy_only=False)
                        .astype(np.int64, copy=False))
                fcol = batch.column(batch.schema.get_field_index(fc))
                vals = fcol.flatten().to_numpy(zero_copy_only=False)
                if vals.size != len(bids) * fdim:
                    return None  # ragged vectors
                pos = np.searchsorted(s_ids, bids)
                X[pos] = vals.reshape(len(bids), fdim).astype(
                    dtype, copy=False)
                total += len(bids)
        if total != n:
            return None
        X.flush()
        del X
        return s_ids, np.arange(n, dtype=np.int64)
    except Exception:
        return None


def feature_laplacian(
    items: DataFrame,
    edges: DataFrame,
    n_features: int,
    id_col: str = "item_id",
    feat_col: str = "features",
    x_source: dict | None = None,
    x_matrix: "tuple[np.ndarray, np.ndarray] | None" = None,
) -> np.ndarray:
    """Compute L_F = Xᵀ (D - W) X distributedly.

    Decomposition:  L_F = Σ_i deg_i·x_i x_iᵀ  -  Σ_{(i,j)∈E} w_ij·(x_i x_jᵀ + x_j x_iᵀ)

    Each executor accumulates a local F×F partial over its partition of
    (a) degree-weighted items and (b) edges joined to both endpoint
    feature vectors; the driver sums the partials. Communication is
    #partitions × F² doubles — independent of N.

    Three physical tiers, one logical contract:

    - N ≤ EXACT_PATH_MAX_ROWS: driver-side numpy (the exact kNN scan
      already collects X to broadcast it) as Xᵀ·(deg∘X − W·X): one
      neighbour combine W·X over both orientations of the edge list
      (`matrix.segment_sum`, E·F flops, one N×F output) and one N×F²
      gemm. Memory is O(N·F) whatever the edge count — X, deg∘X − W·X
      and the combine's output, ≤ 4·N·F·8 bytes with the combine's
      per-row gather — plus O(E) index scalars. The edge-side form
      (X[si]·w)ᵀ·X[di] needed three E×F temporaries and 2·E·F² flops:
      445 MB traced and 1.2–2.1 s on a random N=4,000, F=384, E=75,638
      graph, against 26 MB and 0.29–0.34 s for this form (4-core host).
    - N ≤ BROADCAST_GATHER_MAX_ROWS: ship X once and accumulate
      per-partition partials over the EDGE list only (24 B/row) with
      numpy row-gather + gemm. The join path below would shuffle
      2·E·F doubles (~17 GB at N=78k, k=25) to move vectors to edges;
      this tier moves 0 vectors and the same F² partials. How X ships
      (r11, after the N=2M OOM kill): where a worker-visible scratch
      filesystem exists (local master, or $SPARK_GRAFT_SCRATCH_DIR on
      a cluster), X is spooled ONCE to a scratch .npy and every worker
      np.load()s it mmap'd — all workers share one page-cache copy
      (evictable under pressure), no per-worker unpickle transient, no
      JVM broadcast blocks, and the edge scan keeps full parallelism.
      Only without shared scratch does the tier fall back to a real
      broadcast, coalescing the scan to
      ≤ $SPARK_GRAFT_GATHER_MEM/(3·X_bytes) concurrent workers
      (default budget 32 GiB; the 3x is measured — at N=2M each
      worker's RSS peaked at 10-17 GB against a 6.1 GB X: the
      unpickled value plus the pickle-bytes transient).
    - beyond: fully distributed joins + partial aggregation — no
      broadcast of anything N-sized; communication is #partitions × F²
      doubles. The only tier legal at 100 TB.
    """
    from .knn import EXACT_PATH_MAX_ROWS

    from ..functions.matrix import (collect_eligible, collect_id_matrix,
                                    dst_segments, positions_of,
                                    segment_sum, sorted_index)

    n = items.count()
    # Both driver tiers collect X (N·F doubles): a collect over
    # spark.driver.maxResultSize ABORTS the job rather than spilling,
    # so the row ceilings alone aren't sufficient eligibility — the
    # session's own result limit is (N=600k on a default-1g session
    # sits under the 2M-row ceiling yet needs a 1.8 GB collect).
    x_fits = collect_eligible(items.sparkSession, n * n_features * 8)
    # `x_matrix` = (id-sorted ids, X in that order) already on the
    # driver — build_energy's diffusion tier just PRODUCED this exact
    # matrix, and re-collecting it from the frame it was handed back
    # as cost a full N×F toPandas per consumer (r13-opt). Row order is
    # identical to what the collect paths below would produce (the
    # diffused frame is written id-sorted), so every downstream value
    # is bit-identical.
    if x_matrix is not None and len(x_matrix[0]) != n:
        x_matrix = None  # stale/mismatched handoff: fall back safely
    if n <= EXACT_PATH_MAX_ROWS and x_fits:
        if x_matrix is not None:
            ids_arr, X = x_matrix
        else:
            ids_arr, X = collect_id_matrix(items, id_col, feat_col)
        s_ids, order = sorted_index(ids_arr)
        e_pdf = edges.select("src", "dst", "weight").toPandas()
        si = positions_of(e_pdf["src"].to_numpy(dtype=np.int64), s_ids, order)
        di = positions_of(e_pdf["dst"].to_numpy(dtype=np.int64), s_ids, order)
        w = e_pdf["weight"].to_numpy(dtype=np.float64)
        del e_pdf
        # L·X = deg∘X − W·X over both orientations of each edge (the
        # neighbour combine diffusion runs), then one N×F² gemm
        seg = dst_segments(np.concatenate([si, di]),
                           np.concatenate([di, si]),
                           np.concatenate([w, w]), len(ids_arr))
        del si, di, w
        LX = seg.deg[:, None] * X
        LX -= segment_sum(X, seg)
        lf = X.T @ LX
        return (lf + lf.T) / 2.0

    if n <= BROADCAST_GATHER_MAX_ROWS and x_fits:
        import tempfile

        spark = items.sparkSession
        fdim = n_features
        # mmap handoff where a worker-visible filesystem exists (same
        # deployability rule as matrix_to_frame's scratch parquet):
        # one page-cache copy shared by every worker instead of
        # per-worker broadcast copies — the N=2M gather OOM-killed the
        # host with 5 workers at 10-17 GB RSS each over a 6.1 GB X.
        from ..functions import matrix as matrix_mod

        scratch_env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
        ship = os.environ.get("SPARK_GRAFT_LF_SHIP", "auto").lower()
        master_local = spark.sparkContext.master.startswith("local")
        if ship == "mmap":
            mmap_ok = True
        elif ship == "broadcast":
            mmap_ok = False
        elif scratch_env and not master_local:
            # auto + remote executors: a set scratch var is NOT proof
            # the path is worker-visible (it may exist for driver-side
            # spooling only — ADVICE r11). Probe with a marker file
            # read by one task; broadcast is the safe fallback.
            mmap_ok = _probe_worker_visible(spark, scratch_env)
        else:
            mmap_ok = bool(scratch_env) or master_local
        # fp32 X ship at scale (see LF_X_F32_MIN_ROWS): halves the
        # page-in/broadcast bytes of the gather stage; partials still
        # accumulate in fp64.
        x_dtype_env = os.environ.get("SPARK_GRAFT_LF_X_DTYPE",
                                     "auto").lower()
        if x_dtype_env in ("float32", "fp32", "f32"):
            ship_f32 = True
        elif x_dtype_env in ("float64", "fp64", "f64"):
            ship_f32 = False
        else:
            ship_f32 = n > LF_X_F32_MIN_ROWS
            if ship_f32 and not _WARNED_F32_AUTO[0]:
                # one-time visibility when AUTO crosses the row
                # threshold (ADVICE r12: matches the fp32
                # diffusion-message default's documented policy) —
                # stored L_F/λ shift ~1e-7 relative vs an fp64 ship
                _WARNED_F32_AUTO[0] = True
                warnings.warn(
                    f"feature_laplacian: n={n} > {LF_X_F32_MIN_ROWS} — "
                    f"auto-shipping X as float32 for the gather stage "
                    f"(L_F/λ shift ≲1e-7 relative; pin "
                    f"SPARK_GRAFT_LF_X_DTYPE=float64 to opt out)",
                    UserWarning, stacklevel=2)
        x_dtype = np.float32 if ship_f32 else np.float64
        b_X = b_idx = None
        x_path = None
        if mmap_ok:
            d = tempfile.mkdtemp(prefix="pyarrowspace-lfx-",
                                 dir=scratch_env or None)
            matrix_mod._SCRATCH_DIRS.append(d)
            x_path = os.path.join(d, "x.npy")
            # Spool source: stream the corpus parquet directly when the
            # builder proved the items plan is a trivial scan (skips
            # the Spark collect's full-N JVM serialization pass and its
            # ~3× driver transient); else collect. Both store X in
            # id-SORTED row order so the sorted edge scan's gathers
            # walk the mmap monotonically. SPARK_GRAFT_LF_X_SOURCE=
            # collect forces the old path (A/B lever).
            src_mode = os.environ.get("SPARK_GRAFT_LF_X_SOURCE",
                                      "auto").lower()
            s_ids = order = None
            if x_matrix is not None:
                # driver-resident handoff (already id-sorted): spool
                # it directly — no collect, no parquet re-read
                s_ids = x_matrix[0]
                order = np.arange(n, dtype=np.int64)
                np.save(x_path, x_matrix[1].astype(x_dtype, copy=False))
                _LAST_GATHER_SPOOL[0] = "matrix"
            elif x_source and src_mode != "collect":
                res = _stream_spool_from_parquet(
                    x_source, n, fdim, x_dtype, x_path)
                if res is not None:
                    s_ids, order = res
                    _LAST_GATHER_SPOOL[0] = "scan"
                else:
                    try:
                        os.remove(x_path)
                    except OSError:
                        pass
            if s_ids is None:
                _LAST_GATHER_SPOOL[0] = "collect"
                ids_arr, X = collect_id_matrix(items, id_col, feat_col)
                perm = np.argsort(ids_arr, kind="stable")
                s_ids = ids_arr[perm]
                order = np.arange(n, dtype=np.int64)
                np.save(x_path, X[perm].astype(x_dtype, copy=False))
                # the driver's own copy is dead weight for the rest of
                # the job (the result is F×F); at N=2M it was 6.1 GB of
                # the 125 GB the OOM killer arbitrated
                del X
            np.save(os.path.join(d, "sids.npy"), s_ids)
            np.save(os.path.join(d, "order.npy"), order)
            # tempfile.mkdtemp creates mode 0700 — unreadable by
            # executors running as a DIFFERENT user on a genuinely
            # shared scratch filesystem (ADVICE r11). Group-read by
            # default; other-read only behind the explicit
            # SPARK_GRAFT_SCRATCH_WORLD_READABLE opt-in (ADVICE r12:
            # the spool holds corpus embeddings — don't expose them to
            # every local user on a shared filesystem).
            dmode, fmode = _spool_modes()
            os.chmod(d, dmode)
            for fn in os.listdir(d):
                os.chmod(os.path.join(d, fn), fmode)
            x_bytes = n * fdim * x_dtype().itemsize
        else:
            _LAST_GATHER_SPOOL[0] = "broadcast"
            if x_matrix is not None:
                ids_arr, X = x_matrix
                perm = np.arange(n, dtype=np.int64)
            else:
                ids_arr, X = collect_id_matrix(items, id_col, feat_col)
                perm = np.argsort(ids_arr, kind="stable")
            s_ids = ids_arr[perm]
            order = np.arange(n, dtype=np.int64)
            X = X[perm].astype(x_dtype, copy=False)
            b_X = spark.sparkContext.broadcast(X)
            b_idx = spark.sparkContext.broadcast((s_ids, order))
            x_bytes = X.nbytes

        def edge_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            if x_path is not None:
                Xl = np.load(x_path, mmap_mode="r")
                s_l = np.load(os.path.join(
                    os.path.dirname(x_path), "sids.npy"))
                ord_l = np.load(os.path.join(
                    os.path.dirname(x_path), "order.npy"))
            else:
                Xl = b_X.value
                s_l, ord_l = b_idx.value
            acc = np.zeros((fdim, fdim), dtype=np.float64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                si = positions_of(pdf["src"].to_numpy(dtype=np.int64),
                                  s_l, ord_l)
                di = positions_of(pdf["dst"].to_numpy(dtype=np.int64),
                                  s_l, ord_l)
                w = pdf["weight"].to_numpy(dtype=np.float64)
                C = (Xl[si] * w[:, None]).T @ Xl[di]
                acc -= C + C.T
            yield pd.DataFrame({"partial": acc.ravel()})

        schema = StructType([StructField("partial", DoubleType(), False)])
        e_scan = edges.select("src", "dst", "weight")
        # Sort each edge partition by src before the gather: X is
        # stored id-sorted, so sorted src batches make the X[si]
        # gather walk the spool monotonically (sequential page-ins /
        # cache lines) instead of random-paging it — the gather stage
        # was 33% of the r12 flagship build and page-in-bound. A local
        # sort only (no exchange); changes partial summation order, so
        # L_F moves ~1 ulp — within every pinned tolerance.
        if os.environ.get("SPARK_GRAFT_LF_GATHER_SORT", "1") != "0":
            e_scan = e_scan.sortWithinPartitions("src")
        # Diagonal term Σ deg_i·x_i x_iᵀ: ONE driver gemm over the
        # spool, not a per-partition fold (r13-opt; guide §1.2 "the
        # distributed algorithm first"). The old edge_partials
        # accumulated the degree-weighted diagonal inside EVERY task —
        # each partition touches nearly all N rows of a connected
        # graph, so total diagonal work was P·N·F² (736 GFLOP at the
        # 78k bench vs 354 GFLOP for the edge term it rode along with,
        # and growing with the partition count). Degrees come from one
        # map-side-combined SQL aggregate (2E narrow rows, tiny);
        # the driver gemm is N·F² once, chunked to bound the fp64
        # upcast transient, at full driver BLAS width. Only the
        # floating-point summation ORDER changes (~1 ulp on L_F),
        # within every pinned tolerance — same class as the existing
        # sortWithinPartitions note above.
        deg_pdf = (
            edges.select(F.col("src").alias("_n"), "weight")
            .unionAll(edges.select(F.col("dst").alias("_n"), "weight"))
            .groupBy("_n").agg(F.sum("weight").alias("_d"))
        ).toPandas()
        deg_vec = np.zeros(n, dtype=np.float64)
        if len(deg_pdf):
            dpos = positions_of(deg_pdf["_n"].to_numpy(dtype=np.int64),
                                s_ids, order)
            deg_vec[dpos] = deg_pdf["_d"].to_numpy(dtype=np.float64)
        X_diag = (np.load(x_path, mmap_mode="r") if x_path is not None
                  else b_X.value)
        diag = np.zeros((fdim, fdim), dtype=np.float64)
        for t0 in range(0, n, 65536):
            Xt = np.asarray(X_diag[t0:t0 + 65536], dtype=np.float64)
            diag += (Xt * deg_vec[t0:t0 + 65536, None]).T @ Xt
        del X_diag
        if x_path is None:
            # Broadcast fallback (no worker-visible scratch): every
            # Python worker unpickles its OWN copy of X, and the real
            # per-worker footprint is ~3x X_bytes (measured at N=2M:
            # 10-17 GB RSS per worker over a 6.1 GB X — the unpickled
            # value plus the pickle-bytes transient), which OOM-killed
            # the 125 GB host at 5 workers alongside the 51 GB JVM.
            # Coalesce the edge scan so the copies stay inside a
            # budget; the per-partition gemm work just gets bigger,
            # which BLAS prefers anyway. Bound by the scan's ACTUAL
            # partition count, not defaultParallelism (a session-start
            # snapshot that dynamic allocation can outgrow).
            # Suffix-aware parse ("32g" works, like the sibling
            # SPARK_GRAFT_MAX_RESULT/DRIVER_MEM vars); bare ints are
            # bytes. The mmap path needs none of this: one page-cache
            # copy, full scan parallelism.
            from ..functions.matrix import parse_size_bytes

            budget = parse_size_bytes(
                os.environ.get("SPARK_GRAFT_GATHER_MEM", str(32 << 30)),
                default=32 << 30)
            max_workers = max(2, int(budget // max(3 * x_bytes, 1)))
            if e_scan.rdd.getNumPartitions() > max_workers:
                e_scan = e_scan.coalesce(max_workers)
        try:
            # Arrow fetch, not .collect(): the result is P×F² scalar
            # rows (32×147,456 = 4.7M at F=384) and the row path paid
            # ~27 s of driver pickle.loads + Row construction per build
            # (cProfile, r13-opt) plus the executors' row
            # serialization. toPandas under the session's Arrow flag
            # moves the same doubles in the same partition order as
            # columnar batches; the reshape+sum below sees an identical
            # array, so L_F is bit-identical.
            parts_pdf = e_scan.mapInPandas(
                edge_partials, schema=schema).toPandas()
        finally:
            # free the JVM/disk/worker copies eagerly — the tier is
            # done. The .npy spool dies HERE, not at session exit
            # (toPandas() is eager, so unlike matrix_to_frame's lazy
            # scans nothing can re-read it; leaving it would stack a
            # 6 GB corpse per build on the scratch disk).
            if b_X is not None:
                b_X.destroy()
                b_idx.destroy()
            if x_path is not None:
                import shutil as _shutil

                d = os.path.dirname(x_path)
                _shutil.rmtree(d, ignore_errors=True)
                if d in matrix_mod._SCRATCH_DIRS:
                    matrix_mod._SCRATCH_DIRS.remove(d)
        flat = parts_pdf["partial"].to_numpy(dtype=np.float64)
        lf = flat.reshape(-1, fdim, fdim).sum(axis=0) + diag
        return (lf + lf.T) / 2.0

    deg = (
        edges.select(F.col("src").alias(id_col), "weight")
        .unionAll(edges.select(F.col("dst").alias(id_col), "weight"))
        .groupBy(id_col)
        .agg(F.sum("weight").alias("degree"))
    )
    feats = items.select(F.col(id_col), F.col(feat_col).alias("_x"))
    diag_part = feats.join(deg, id_col, "inner").select(
        F.col("degree").alias("w"), F.col("_x").alias("xa"), F.col("_x").alias("xb")
    )
    # Edge part: canonical undirected edges expanded to both
    # orientations so Σ -w·xa xbᵀ covers (i,j) AND (j,i) — L has -w_ij
    # in both. Features table joined twice — at scale these are
    # shuffle-hash joins on the id key.
    both_dirs = edges.select("src", "dst", "weight").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    fa = feats.select(F.col(id_col).alias("src"), F.col("_x").alias("xa"))
    fb = feats.select(F.col(id_col).alias("dst"), F.col("_x").alias("xb"))
    edge_part = (
        both_dirs.join(fa, "src").join(fb, "dst")
        .select((-F.col("weight")).alias("w"), "xa", "xb")
    )
    combined = diag_part.unionAll(edge_part)

    schema = StructType([StructField("partial", DoubleType(), False)])
    Fdim = n_features

    def accumulate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros((Fdim, Fdim), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            w = pdf["w"].to_numpy(dtype=np.float64)
            xa = np.stack(pdf["xa"].to_numpy())
            xb = np.stack(pdf["xb"].to_numpy())
            # Σ w * xa xbᵀ  (+ transpose for the edge part handled below)
            acc += (xa * w[:, None]).T @ xb
        yield pd.DataFrame({"partial": acc.ravel()})

    # Arrow fetch (same reasoning as the gather tier above): P×F²
    # scalar rows through the pickled-row path cost ~27 s/build of
    # driver-side deserialization at P=32; at this tier's scale P can
    # be thousands. Identical doubles in identical partition order.
    parts_pdf = combined.mapInPandas(accumulate, schema=schema).toPandas()
    flat = parts_pdf["partial"].to_numpy(dtype=np.float64)
    n_parts = len(flat) // (Fdim * Fdim)
    mats = flat.reshape(n_parts, Fdim, Fdim)
    lf = mats.sum(axis=0)
    # Numerically symmetrize (exact math is symmetric already).
    return (lf + lf.T) / 2.0


def _lambda_kernel(X: np.ndarray, LF: np.ndarray, tau: float,
                   w_pos: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized e_raw / g_clamped / S for a batch of row vectors.

    The dispersion sums are evaluated through their separable
    expansions — for symmetric W (w_ii = 0), with s = W·1:

      Σ_ij w_ij (x_i-x_j)²  = 2·(x²ᵀs − xᵀWx)
      Σ_ij w_ij²(x_i-x_j)⁴ = 2·(x⁴ᵀs₂) + 6·(x²ᵀW₂x²) − 8·(x³ᵀW₂x)
                               with W₂ = W∘W, s₂ = W₂·1

    which turns a per-item loop over all O(F²) feature-edges into a
    handful of B×F gemms: ~4000× less work at F=384, and the reason
    the λ pass stays a rounding error next to the graph build even at
    N in the hundreds of thousands. Exact algebraic identities — only
    float summation order differs from the naive edge loop.
    """
    # e_raw = x^T L_F x, batched: rowwise sum of (X @ LF) * X
    e_raw = np.einsum("bi,bi->b", X @ LF, X)
    e_b = e_raw / (e_raw + tau)
    # Dispersion over feature-graph edges: w_ij = max(0, -LF_ij), i != j
    if w_pos is None:
        w_pos = np.maximum(-LF, 0.0)
        np.fill_diagonal(w_pos, 0.0)
    W2 = w_pos * w_pos
    s1 = w_pos.sum(axis=1)
    s2 = W2.sum(axis=1)
    X2 = X * X
    X3 = X2 * X
    X4 = X2 * X2
    tot = 2.0 * (X2 @ s1 - np.einsum("bi,bi->b", X @ w_pos, X))
    sumsq = (2.0 * (X4 @ s2)
             + 6.0 * np.einsum("bi,bi->b", X2 @ W2, X2)
             - 8.0 * np.einsum("bi,bi->b", X3 @ W2, X))
    with np.errstate(divide="ignore", invalid="ignore"):
        g_raw = np.where(tot > 0, sumsq / (tot * tot), 0.0)
    g = np.clip(g_raw, 0.0, 1.0)
    s_val = tau * e_b + (1.0 - tau) * g
    return e_raw, g, s_val


def median_tau(items: DataFrame, lf: np.ndarray,
               feat_col: str = "features") -> float:
    """τ_synth = median of e_raw over all items (TauMode::Median).

    Scale-tiered percentile (`functions.stats`, SURVEY §7.3 #4): exact
    below the row ceiling — oracle parity — `percentile_approx` beyond,
    where the exact per-distinct-double aggregation state would OOM.
    """
    from ..functions import stats

    spark = items.sparkSession
    blf = spark.sparkContext.broadcast(lf)

    @F.pandas_udf(DoubleType())
    def e_raw_udf(feats: pd.Series) -> pd.Series:
        X = np.stack(feats.to_numpy())
        LF = blf.value
        return pd.Series(np.einsum("bi,bi->b", X @ LF, X))

    med = (
        items.select(e_raw_udf(F.col(feat_col)).alias("e_raw"))
        .select(stats.percentile_expr("e_raw", 0.5, items.count()).alias("m"))
        .collect()[0]["m"]
    )
    return float(med)


def with_lambda(
    items: DataFrame,
    lf: np.ndarray,
    tau: float,
    feat_col: str = "features",
    out_col: str = "lambda",
) -> DataFrame:
    """Append the synthetic index S(x) as `lambda` — a narrow,
    Arrow-batched pass with the broadcast F×F Laplacian."""
    spark = items.sparkSession
    blf = spark.sparkContext.broadcast(lf)
    t = float(tau)

    @F.pandas_udf(DoubleType())
    def lam_udf(feats: pd.Series) -> pd.Series:
        X = np.stack(feats.to_numpy())
        _, _, s_val = _lambda_kernel(X, blf.value, t)
        return pd.Series(s_val)

    return items.withColumn(out_col, lam_udf(F.col(feat_col)))


def lambda_for_vectors(X: np.ndarray, lf: np.ndarray, tau: float) -> np.ndarray:
    """Driver-side λ for a small batch of query vectors (λ_q synthesis,
    reference src/lib.rs:152-154). Raises if any λ is 0 — the reference
    panics on mis-scaled data (src/lib.rs:156-159); we surface the same
    guard as an exception."""
    _, _, s_val = _lambda_kernel(np.asarray(X, dtype=np.float64), lf, float(tau))
    if np.any(s_val == 0.0):
        raise ValueError(
            "query lambda is 0.0 — input vectors are mis-scaled "
            "(reference panics here; rescale inputs, e.g. ×12)"
        )
    return s_val


def magnitude_report(items: DataFrame,
                     feat_col: str = "features") -> DataFrame:
    """Input-magnitude diagnostics (reference panics on mis-scaled
    inputs via the λ=0 guard, src/lib.rs:156-159, and its tests rescale
    ×12/×100; the intended heuristics table is tests/test_2_CVE_db.py:
    44-66 — we REPORT instead of panicking, SURVEY §7.3 #7):
    one row of [n_items, min/avg/max L2 norm, n_zero_vectors,
    n_nonfinite] computed in a single JVM aggregate pass."""
    from ..functions import vector as V

    norm = V.l2_norm(feat_col)
    return items.agg(
        F.count("*").cast("long").alias("n_items"),
        F.min(norm).alias("min_norm"),
        F.avg(norm).alias("avg_norm"),
        F.max(norm).alias("max_norm"),
        F.sum((norm == 0.0).cast("long")).alias("n_zero_vectors"),
        F.sum((V.nan_inf_count(feat_col) > 0).cast("long")
              ).alias("n_nonfinite"),
    )


def with_energy_components(
    items: DataFrame,
    lf: np.ndarray,
    feat_col: str = "features",
    out_col: str = "_ec",
) -> DataFrame:
    """Append one struct column (e_raw, g): BOTH τ-independent spectral
    components in a single Arrow-batched kernel pass.

    τ-synthesis + the final blend are then pure SQL over this column —
    the builder pays ONE Python pass per item instead of two (median-τ
    pass + λ pass each re-deriving e_raw)."""
    spark = items.sparkSession
    blf = spark.sparkContext.broadcast(lf)
    schema = StructType([
        StructField("e_raw", DoubleType(), False),
        StructField("g", DoubleType(), False),
    ])

    @F.pandas_udf(schema)
    def ec_udf(feats):
        X = np.stack(feats.to_numpy())
        # tau only scales e_bounded/S — e_raw and g don't depend on it
        e_raw, g, _ = _lambda_kernel(X, blf.value, tau=1.0)
        return pd.DataFrame({"e_raw": e_raw, "g": g})

    return items.withColumn(out_col, ec_udf(F.col(feat_col)))


def blend_lambda_cols(e: F.Column, g: F.Column, tau: float) -> F.Column:
    """S(x) = τ·e/(e+τ) + (1−τ)·g from explicit component columns."""
    t = F.lit(float(tau))
    return t * (e / (e + t)) + (F.lit(1.0) - t) * g


def blend_lambda(ec_col: str, tau: float) -> F.Column:
    """Blend over the struct column from `with_energy_components`."""
    return blend_lambda_cols(F.col(f"{ec_col}.e_raw"),
                             F.col(f"{ec_col}.g"), tau)
