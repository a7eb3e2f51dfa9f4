"""Energy/diffusion pipeline (reference build_energy/search_energy,
src/lib.rs:303-376; stage list doc src/lib.rs:305-318).

Two build tiers. One census aggregate (N, F, E) picks the tier by the
one driver-tier rule, `functions.matrix.driver_fits`. When it holds,
`build_energy` collects X once and the edge list once, runs stages 2-5
in numpy in the Spark flow's operation order, and hands back one frame:
the items, as an eager-released parquet handoff (8 Spark jobs for a
build plus the items and centroids counts, where the Spark flow ran
~42). Beyond it the Spark flow runs the stages below as distributed
operators, where diffusion and L_F each apply the rule at their own
price. The census also checks the input contract. The tiers share
the step loop, the L_F helper, the blend's operation order, the nearest
cell, the moments, the percentile replay, the training rows of the
quantizer and the splits (all rows up to COMPRESS_MAX_TRAIN, else the
same xxhash64 samples) and the split rule (`_nearest_child`), so λ,
e_raw, τ, L_F and `centroid_id` agree between the tiers.

Stages (Spark flow):
  1. λτ-graph (shared with the standard build).
  2. Heat diffusion G12: X ← X − η·L·X for `steps` iterations, exact
     fp64. Both tiers run one step, W·X by the one neighbour combine
     `matrix.segment_sum`, so their iterates are equal. Driver tier
     under `driver_fits`; beyond it one distributed plan: an fp64
     iterate spool on worker-visible scratch, the edges persisted in
     the one dst-partitioned layout (`matrix.dst_layout`) and one
     exchange-free job per step, written by tasks on `local*` masters
     and streamed through parquet on multi-host ones. No scratch, too
     little scratch or duplicate ids raise. See `diffuse` for the tier
     split.
  3. Edge trim G13a: drop edges below the `trim_quantile` weight
     quantile.
  4. Optical-token compression G14: seeded KMeans to ~optical_tokens
     centroids; centroid energy attributes (λ/e/dispersion means).
  5. Dispersion split G13b: centroids whose member-λ dispersion
     exceeds the `split_quantile` quantile are split once (2-means),
     bounded driver loop; one narrow pandas UDF moves their members.
  6. search_energy G15: cosine-free scoring
     score = w_lambda·1/(1+|λ_q−λ_x|) + w_dirichlet·1/(1+|e_q−e_x|),
     centroid shortlist of `candidate_m` then exact member rescore.
     The shortlist is ranked on the driver from the (memoized)
     centroid scalars; one Arrow kernel rescores the shortlisted
     members in place, with no join, and a ranking window on query_id
     picks k. Scores equal the SQL expression bit for bit.

The crate's exact energy-edge weighting is unpublished (SURVEY §2.11
spec gap); formulas here are pinned by our own golden tests.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spool
from ..functions import stats
from ..functions import matrix as matrix_mod
from ..functions.matrix import (
    collect_id_matrix,
    matrix_to_frame,
    positions_of,
    segment_sum,
)
from ..params import EnergyParams, GraphParams
from . import knn as knn_ops
from . import lambda_index as lam_ops
from . import simsearch
from .search import (QUERY_BLOCK, block_topk, check_query_ids, fold_dot,
                     ranked)

# Optical-token / split training matrices are collected driver-side;
# above this row count both tiers train on a deterministic hash-capped
# subset (same policy + helper as the IVF quantizer).
COMPRESS_MAX_TRAIN = 100_000


def diffuse_plan(n_items: int, nf: int, n_edges: int) -> dict:
    """Self-description of the tier `diffuse` chooses for a corpus of
    this shape: the byte part of `matrix.driver_fits` at diffusion's
    price → driver tier (0), else the distributed spool tier (1).

    Pure arithmetic over (N, F, E) and the env-backed budget, so the
    DuckDB oracle can replay it row-for-row (`build_diagnostics`
    section 'diffuse_plan'). Runtime eligibility (driver maxResultSize
    / scratch handoff) can additionally demote the driver tier on
    constrained sessions; the authoritative record of what a build
    actually ran is `EnergyIndex.diffusion_info`.
    """
    driver = (matrix_mod.driver_price(n_items, nf, n_edges,
                                      matrix_mod.DIFFUSE_X_COPIES)
              <= matrix_mod.DRIVER_BUDGET_BYTES)
    return {"distributed_tier": 0 if driver else 1}


def _make_spool_read_kernel(x_path: str, s_path: str, pos_path: str,
                            n_chunks: int, id_col: str, feat_col: str):
    """mapInPandas kernel over `spark.range(0, n_chunks, 1, n_chunks)`
    that emits the spool rows at the saved positions, chunk i taking
    the i-th contiguous slice — the distributed read-back of a
    task-written final iterate (single-host masters; the writers'
    pages are still in cache, so this is a memory copy, not I/O)."""

    def kernel(batches):
        import pandas as pd

        X, s_ids = spool.reopen(x_path, s_path)
        pos = np.load(pos_path)
        per = -(-len(pos) // max(n_chunks, 1))
        for pdf in batches:
            for cid in pdf["id"].to_numpy(np.int64):
                sl = pos[cid * per:(cid + 1) * per]
                if not len(sl):
                    continue
                yield pd.DataFrame({
                    id_col: s_ids[sl],
                    feat_col: list(np.asarray(X[sl], dtype=np.float64)),
                })

    return kernel


def _make_spool_step_kernel(x_path: str, s_path: str, eta: float,
                            id_col: str, feat_col: str,
                            out_path: "str | None" = None):
    """mapInPandas kernel for one diffusion step over one
    `matrix.dst_layout` partition: its destinations hold ALL their
    incoming edges, so the kernel runs the driver tiers' step on them,
    x' = (1 − η·deg)·x + η·W·x in fp64 with W·x the one neighbour
    combine (`matrix.segment_sum`) over the shared id-sorted X spool —
    no update join and no degree aggregation exist in the plan at all.

    `out_path` (task writes): write the updated rows straight into the
    pre-allocated NEXT spool at their id-sorted positions (dpos is
    ascending — a monotonic mmap walk) and emit only a count,
    eliminating the per-step parquet write + driver re-spool
    (measured 28 s of serial driver time per step at the bench)."""
    eta_f = float(eta)

    def kernel(batches):
        X, s_ids = spool.reopen(x_path, s_path)
        part = matrix_mod.partition_segments(
            batches, lambda ids: spool.positions(
                s_ids, ids, "diffusion X spool does not cover this "
                "partition's edges"))
        if part is None:
            return
        udst, dpos, seg = part
        # the operation order of `_diffuse_steps`, so the tiers agree
        out = (1.0 - eta_f * seg.deg)[:, None] * X[dpos]
        wx = segment_sum(X, seg)
        wx *= eta_f
        out += wx
        if out_path is not None:
            nxt = np.load(out_path, mmap_mode="r+")
            nxt[dpos] = out
            del nxt
            yield pd.DataFrame(
                {"cnt": np.array([len(udst)], dtype=np.int64)})
        else:
            yield pd.DataFrame({id_col: udst, feat_col: list(out)})

    return kernel


def _diffuse_spool(items: DataFrame, edges: DataFrame, eta: float,
                   steps: int, id_col: str, feat_col: str, nf: int,
                   n: int) -> "tuple[DataFrame, dict]":
    """Distributed diffusion (guide §8: shuffle keys and metadata, move
    heavy bytes once). The iterate X_t lives in ONE id-sorted fp64
    spool per step on a worker-visible scratch filesystem, the
    loop-invariant edge list is persisted pre-partitioned by dst, and
    each step is a single exchange-free job: gather sources from the
    shared mmap, emit updated destination rows, re-spool them for the
    next step. Per-step data movement is O(N·F) write + O(N·F) stream
    (plus page-cache gathers); the arithmetic is exact fp64.

    This is the index-join form of vertex-centric message passing
    (Pregelix runs it as a dataflow join against the vertex relation):
    no per-edge message is ever materialized or shuffled.

    Returns the frame and the tier's record (`_spool_steps`).
    Raises instead of degrading: RuntimeError when a multi-host master
    has no worker-visible SPARK_GRAFT_SCRATCH_DIR or the scratch
    filesystem lacks 3·N·F·8 + 64 MiB free; ValueError on duplicate
    ids. Any failure after the spool dir is created removes it."""
    spark = items.sparkSession
    op = "diffuse: the distributed tier"
    root, task_write = spool.scratch(spark, op)
    # budget: two live spools + one step parquet, all ~N·F·8
    spool.check_free(root, 3 * n * nf * 8 + (64 << 20), op,
                     f"3·N·F·8 + 64 MiB at N={n}, F={nf}")
    d = spool.make_dir(root, "pyarrowspace-diffspool-")
    try:
        # the seed spool x0 (the initial iterate), from `spool.write`
        s_ids = spool.write(items, id_col, feat_col, n, nf, d, "x0", op)
        out, info = _spool_steps(items, edges, eta, steps, id_col,
                                 feat_col, nf, s_ids, d, task_write)
    except BaseException:
        spool.drop_dir(d)
        raise
    if out is None:  # no edges: diffusion is the identity
        spool.drop_dir(d)
        out = items.select(id_col, feat_col)
    return out, info


def _spool_steps(items: DataFrame, edges: DataFrame, eta: float,
                 steps: int, id_col: str, feat_col: str, nf: int,
                 s_ids: np.ndarray, d: str,
                 task_write: bool) -> "tuple[DataFrame | None, dict]":
    """The step loop of `_diffuse_spool` inside spool dir `d`, from the
    seed spool x0.npy and its ids sids.npy (`spool.write`). Returns the
    frame (None when the graph has no edges) and the record, with each
    step's wall seconds as `step_sec` (step 1 also carries the
    loop-invariant edge materialization).

    Write modes: with `task_write` (single-host masters) the tasks
    scatter rows straight into the pre-allocated mmap — writers and
    next-step readers share one page cache, so each step's
    materialization is one parallel job with ZERO serial driver I/O.
    Otherwise (stream writes) every step emits parquet, which the
    driver streams into the next spool (`spool.from_parquet`); a step
    emits only the destination rows, so those spools hold exactly the
    destination ids, in their own id index. The final step's parquet
    is the returned frame."""
    spark = items.sparkSession
    n = len(s_ids)
    s_path = os.path.join(d, "sids.npy")
    schema = f"{id_col} long, {feat_col} array<double>"

    def _count_of(df: DataFrame) -> int:
        row = df.agg(F.sum("cnt")).collect()[0][0]
        return int(row or 0)

    cur_path = os.path.join(d, "x0.npy")
    cur_sids = s_path

    # loop-invariant: the one edge layout (every incoming edge of a dst
    # in one partition, in (dst, src) order); persisted once, ZERO
    # per-step exchange.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    both = matrix_mod.dst_layout(edges, n_part).persist()
    try:
        n_sym = both.count()
        info = {"tier": "distributed", "plan": "spool",
                "write": "task" if task_write else "stream",
                "n_sym_edges": int(n_sym), "step_sec": []}
        if n_sym == 0:
            return None, info
        # isolated nodes (no edges at all) never appear as dst OR src;
        # their rows are the identity under diffusion — captured once
        # from the seed spool and appended to the final output only
        # (intermediate spools never read them).
        dst_arr = (both.select("dst").distinct().toPandas()["dst"]
                   .to_numpy(np.int64))
        covered = np.zeros(n, dtype=bool)
        # positions_of RAISES on a dst absent from items — the same
        # contract as the driver tier (ADVICE r5), instead of a
        # silently wrong searchsorted scatter
        covered[positions_of(dst_arr, s_ids,
                             np.arange(n, dtype=np.int64))] = True
        iso_pos = np.where(~covered)[0]
        n_dst = int(covered.sum())
        if len(iso_pos):
            x0 = np.load(cur_path, mmap_mode="r")
            iso_ids = s_ids[iso_pos].copy()
            iso_X = np.asarray(x0[iso_pos], dtype=np.float64)
            del x0
        step_dir = ""
        for t in range(int(steps)):
            t0 = time.time()
            nxt_path = os.path.join(d, f"x{t + 1}.npy")
            if task_write:
                # one exchange-free job gathers, updates AND scatters
                # the next iterate — no parquet, no driver stream; the
                # final step too (the returned frame is a chunked
                # reader over the final spool, page-cache-warm from the
                # writers)
                spool.alloc(nxt_path, (n, nf))
                kernel = _make_spool_step_kernel(
                    cur_path, s_path, eta, id_col, feat_col,
                    out_path=nxt_path)
                wrote = _count_of(both.mapInPandas(kernel, "cnt long"))
                if wrote != n_dst:
                    raise RuntimeError(
                        f"diffusion step {t + 1} spool wrote {wrote} "
                        f"of {n_dst} rows")
                os.remove(cur_path)
                cur_path = nxt_path
            else:
                # every step emits rows → parquet; the FINAL parquet is
                # the returned frame, intermediate ones are re-spooled
                # by the driver
                step_dir = os.path.join(d, f"step{t + 1}")
                kernel = _make_spool_step_kernel(
                    cur_path, cur_sids, eta, id_col, feat_col)
                (both.mapInPandas(kernel, schema)
                 .write.mode("overwrite").parquet(step_dir))
                if t < int(steps) - 1:
                    got = spool.from_parquet(
                        spool.part_files(step_dir), id_col, feat_col,
                        n_dst, nf, nxt_path)
                    if got is None or not np.array_equal(
                            got, s_ids[covered]):
                        raise RuntimeError(
                            f"diffusion step {t + 1} spool does not hold "
                            f"the {n_dst} destination ids")
                    if cur_sids == s_path:
                        cur_sids = os.path.join(d, "dst_sids.npy")
                        spool.save(cur_sids, got)
                    os.remove(cur_path)
                    shutil.rmtree(step_dir, ignore_errors=True)
                    cur_path = nxt_path
            info["step_sec"].append(round(time.time() - t0, 3))
        if task_write:
            # returned frame = distributed chunked read of the final
            # spool (only dst-covered positions; iso rows appended
            # below). The spool + index files live until the scratch
            # dir is reclaimed at exit.
            pos_path = os.path.join(d, "outpos.npy")
            spool.save(pos_path, np.where(covered)[0].astype(np.int64))
            n_part_rd = max(1, min(n_part, n_dst))
            out = (spark.range(0, n_part_rd, 1, n_part_rd)
                   .mapInPandas(
                       _make_spool_read_kernel(
                           cur_path, s_path, pos_path, n_part_rd,
                           id_col, feat_col),
                       schema))
        else:
            # the final step's input spool and the id indexes are
            # dead now — only the final step parquet (the returned
            # scan) must outlive this call; reclaimed with the scratch
            # dir.
            for p in glob.glob(os.path.join(d, "*.npy")):
                os.remove(p)
            out = spark.read.schema(schema).parquet(step_dir)
        if len(iso_pos):
            out = out.unionAll(matrix_to_frame(
                spark, iso_ids, iso_X, id_col, feat_col))
        return out, info
    finally:
        both.unpersist()


def _diffuse_steps(X: np.ndarray, seg, eta: float,
                   steps: int) -> np.ndarray:
    """The driver tiers' step loop: `steps` times X ← (1 − η·deg)∘X +
    η·W·X, with W·X one neighbour combine (`matrix.segment_sum`) over
    the directed edges grouped by `matrix.dst_segments`.

    X is updated IN PLACE and returned: the callers own it, and a step
    holds X and W·X only (`matrix.DIFFUSE_X_COPIES`); W·X is dropped
    before the next step allocates its own."""
    eta_f = float(eta)
    keep = (1.0 - eta_f * seg.deg)[:, None]
    for _ in range(int(steps)):
        wx = segment_sum(X, seg)
        wx *= eta_f
        X *= keep
        X += wx
        del wx
    return X


def _diffuse_driver(items: DataFrame, edges: DataFrame, eta: float,
                    steps: int, id_col: str, feat_col: str) -> DataFrame:
    """Driver-tier diffusion: X and the edge list are collected once
    (`matrix.collect_graph`, the collect every driver pass shares) and
    the whole multi-step loop is numpy — each step one neighbour combine
    W·X by `matrix.segment_sum`, the helper the driver-tier feature
    Laplacian shares — with no per-step broadcast/collect round trip.

    `diffuse` is a public operator, so the "endpoints come from these
    items" guarantee does not hold: an edge endpoint absent from items
    raises KeyError (`positions_of`) instead of gathering the wrong row
    (ADVICE r5), and a repeated id raises ValueError."""
    spark = items.sparkSession
    ids, X, src, dst, w = matrix_mod.collect_graph(items, edges, id_col,
                                                   feat_col)
    X = _diffuse_steps(X, matrix_mod.sym_segments(src, dst, w, len(ids)),
                       eta, steps)
    # Hand the diffused matrix back as a parquet scan, NOT a
    # createDataFrame: the latter embeds X in task binaries (12 MB
    # task-size warnings at 78k×384) and — under a non-Arrow session
    # like the driver's — feeds numpy float64 to the row verifier,
    # which rejects it (the round-5 CORRECTNESS regression).
    # eager_release: the scan is absorbed into Spark block storage and
    # its scratch files deleted at once, so a session building many
    # indexes doesn't accumulate one N×F parquet per diffuse call.
    # parts: one file per shuffle partition, not ⌈N/32,768⌉ scan tasks.
    return matrix_to_frame(
        spark, ids, X, id_col, feat_col, eager_release=True,
        parts=int(spark.conf.get("spark.sql.shuffle.partitions", "32")))


def _diffuse_tiered(items: DataFrame, edges: DataFrame, eta: float,
                    steps: int, id_col: str, feat_col: str, n: int,
                    nf: int, n_edges: int) -> "tuple[DataFrame, dict | None]":
    """`diffuse` past its census: the tier the one driver-tier rule
    picks for (N, F, E) = (`n`, `nf`, `n_edges`), run. Returns the
    frame and the tier's record, None when nothing ran (`steps` ≤ 0 or
    no items)."""
    if int(steps) <= 0 or n == 0:
        return items.select(id_col, feat_col), None
    if matrix_mod.driver_fits(items.sparkSession, n, nf, n_edges, True,
                              matrix_mod.DIFFUSE_X_COPIES):
        return (_diffuse_driver(items, edges, eta, steps, id_col, feat_col),
                {"tier": "driver", "n_sym_edges": None})
    return _diffuse_spool(items, edges, eta, steps, id_col, feat_col,
                          nf, n)


def diffuse(items: DataFrame, edges: DataFrame, eta: float, steps: int,
            id_col: str = "item_id", feat_col: str = "features",
            info: "dict | None" = None) -> DataFrame:
    """G12 heat diffusion, `steps` iterations, exact fp64 on every
    tier. Physical tiers:

    - driver tier, when `matrix.driver_fits` holds at diffusion's price
      with the handoff check: the whole loop is numpy segment-sums on
      the driver.
    - distributed tier beyond (`_diffuse_spool`): the iterate lives in
      one id-sorted fp64 spool per step on a worker-visible scratch
      dir, edges are persisted pre-partitioned by dst, and each step is
      a single exchange-free gather/update job. The seed spool is
      `spool.write`'s, the writer the L_F and LSH spools share. On
      `local*` masters (local-cluster included) tasks write the spools
      directly; on multi-host masters the seed and each step write
      parquet that the driver streams into the next spool.

    The distributed tier raises rather than degrade: RuntimeError when
    a multi-host master has no worker-visible SPARK_GRAFT_SCRATCH_DIR,
    RuntimeError when the scratch filesystem lacks 3·N·F·8 + 64 MiB
    free (the message states both byte counts and the directory), and
    ValueError on duplicate ids. Its spool dir is removed on any error.

    `info`: pass a dict and the call fills it with the record of the
    tier it ran: `tier` and `n_sym_edges` (None on the driver), plus
    `plan`, `write` ("task"/"stream") and the per-step wall seconds
    `step_sec` on the distributed tier; empty when nothing ran.
    """
    if int(steps) <= 0:
        return items.select(id_col, feat_col)
    out, rec = _diffuse_tiered(
        items, edges, eta, steps, id_col, feat_col,
        *matrix_mod.census(items, edges, feat_col, id_col))
    if info is not None and rec:
        info.update(rec)
    return out


def trim_edges(edges: DataFrame, trim_quantile: float,
               n_edges: int | None = None) -> DataFrame:
    """Drop the weakest `trim_quantile` fraction of edges.

    The cut is a scale-tiered percentile (`functions.stats`): exact —
    oracle-replayable — below the ceiling, Greenwald-Khanna approx
    beyond, where an exact per-distinct-double state over billions of
    edge weights would OOM the merging task. `n_edges` is counted if
    not supplied (cheap on the persisted edge list). No edges: the
    percentile is NULL and the edges come back as they are."""
    if trim_quantile <= 0:
        return edges
    if n_edges is None:
        n_edges = edges.count()
    cut = edges.select(
        stats.percentile_expr("weight", float(trim_quantile),
                              n_edges).alias("c")
    ).collect()[0]["c"]
    if cut is None:
        return edges
    return edges.filter(F.col("weight") >= F.lit(float(cut)))


@dataclass
class EnergyIndex:
    """Artifacts of the energy build: diffused+λ-indexed items, their
    centroid assignment, the compressed centroid table (the 'optical
    tokens'), the F×F Laplacian of the diffused space, and params."""

    items: DataFrame          # [item_id, features, lambda, e_raw, centroid_id]
    centroids: DataFrame      # [centroid_id, center, lambda_c, e_c, disp_c, n_members]
    edges: DataFrame
    feature_laplacian: np.ndarray
    graph_params: GraphParams
    energy_params: EnergyParams
    tau_synth: float
    # How the diffusion stage actually ran, the record `diffuse`
    # fills, so an index self-describes its physical plan. None on
    # steps=0 builds and indexes saved before round 11.
    diffusion_info: dict | None = None
    # (centroids frame, its scalars) for `search_energy`'s shortlist;
    # see `_centroid_scalars`
    _centroid_memo: tuple | None = field(default=None, init=False,
                                         repr=False, compare=False)

    @property
    def nnodes(self) -> int:
        """Energy-graph node count (reference logs nnodes=39..120)."""
        return self.centroids.count()

    def save(self, path: str) -> None:
        """Persist the energy-index artifacts as Parquet + JSON meta —
        the energy twin of `ArrowSpaceIndex.save` (build once, search
        in later sessions; the reference keeps its energy maps
        in-process only, so this is engine parity with our own
        standard-index lifecycle, not a reference API)."""
        import json as _json

        self.items.write.mode("overwrite").parquet(f"{path}/items")
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        self.edges.write.mode("overwrite").parquet(f"{path}/edges")
        spark = self.items.sparkSession
        matrix_mod.laplacian_to_parquet(spark, self.feature_laplacian,
                                        f"{path}/feature_laplacian")
        meta = {
            "tau_synth": float(self.tau_synth),
            "graph_params": _json.dumps(self.graph_params.to_dict()),
            "energy_params": _json.dumps(self.energy_params.to_dict()),
            "diffusion_info": _json.dumps(self.diffusion_info or {}),
        }
        spark.createDataFrame([meta]).write.mode("overwrite").json(
            f"{path}/meta")

    def extend(self, new_items: DataFrame, id_col: str = "item_id",
               feat_col: str = "features",
               refresh_centroid_attrs: bool = True,
               check_ids: bool = False) -> "EnergyIndex":
        """Incremental append against frozen artifacts — see
        `extend_energy` (module level) for the contract."""
        return extend_energy(self, new_items, id_col=id_col,
                             feat_col=feat_col,
                             refresh_centroid_attrs=refresh_centroid_attrs,
                             check_ids=check_ids)

    @classmethod
    def load(cls, spark, path: str) -> "EnergyIndex":
        """Reopen a saved energy index: tables stay lazy/distributed,
        only the F×F Laplacian and the param dicts hit the driver."""
        import json as _json

        lf = matrix_mod.laplacian_from_parquet(
            spark, f"{path}/feature_laplacian")
        meta = spark.read.json(f"{path}/meta").collect()[0].asDict()
        dinfo = _json.loads(meta.get("diffusion_info") or "{}") or None
        return cls(
            items=spark.read.parquet(f"{path}/items"),
            centroids=spark.read.parquet(f"{path}/centroids"),
            edges=spark.read.parquet(f"{path}/edges"),
            feature_laplacian=lf,
            graph_params=GraphParams(
                **_json.loads(meta["graph_params"])),
            energy_params=EnergyParams.from_dict(
                _json.loads(meta["energy_params"])),
            tau_synth=float(meta["tau_synth"]),
            diffusion_info=dinfo,
        )


def _centroid_moments(M: np.ndarray, lam: np.ndarray,
                      er: np.ndarray) -> dict:
    """One token's moments over its members (rows of M, their λ and
    e_raw): member count, λ/e means, λ dispersion (population std) and
    the member-mean center. Both build tiers compute them here."""
    return {"n_members": len(lam), "lambda_c": float(lam.mean()),
            "e_c": float(er.mean()), "disp_c": float(lam.std()),
            "center": M.mean(axis=0)}


_CENTROID_SCHEMA = ("centroid_id long, n_members long, lambda_c double, "
                    "e_c double, disp_c double, center array<double>")


def _centroid_attrs(wc: DataFrame) -> DataFrame:
    """Scalar moments AND member-mean centers per token, one grouped
    Arrow kernel: a single shuffle of (centroid_id, features, λ, e)
    rows replaces the previous two aggregations (one of which
    exploded N×F rows — 120M at the 313k ledger scale) plus their
    join. Group size is members-per-token (~N/optical_tokens), so
    per-call memory is members × F doubles."""

    def _agg(pdf: pd.DataFrame) -> pd.DataFrame:
        mom = _centroid_moments(
            np.stack(pdf["features"].to_numpy()).astype(np.float64),
            pdf["lambda"].to_numpy(np.float64),
            pdf["e_raw"].to_numpy(np.float64))
        return pd.DataFrame({"centroid_id": [int(pdf["centroid_id"].iloc[0])],
                             **{k: [v] for k, v in mom.items()}})

    return (
        wc.select("centroid_id", "features", "lambda", "e_raw")
        .groupBy("centroid_id")
        .applyInPandas(_agg, _CENTROID_SCHEMA)
    )


def _split_children(M: np.ndarray, split_tau: float) -> "np.ndarray | None":
    """G13b: the two child centers of a token with members M (rows in
    item_id order), or None when it cannot split (fewer than two
    members, or all members equal). `split_tau` is the SPLIT OFFSET
    MAGNITUDE (reference src/lib.rs:318 "split_tau: split offset
    magnitude"): children start at c ± split_tau·u along the dominant
    member direction u, then Lloyd refines from that deterministic
    init. (Earlier rounds misused split_tau as a threshold offset,
    which *suppressed* splits as it grew — ADVICE r2 item 5.)"""
    if len(M) < 2:
        return None
    c = M.mean(axis=0)
    # dominant member direction (top right-singular vector), sign-fixed
    # so the split is orientation-deterministic
    _, s, vt = np.linalg.svd(M - c, full_matrices=False)
    if s[0] <= 1e-12:
        return None  # degenerate cluster: nothing to split
    u = vt[0]
    nz = np.nonzero(np.abs(u) > 1e-12)[0][0]
    if u[nz] < 0:
        u = -u
    tau_off = float(split_tau)
    init = np.stack([c + tau_off * u, c - tau_off * u])
    return simsearch.lloyd_kmeans(M, 2, init=init, iters=10)


def _id64():
    """The item id as a long, the key both tiers sample by."""
    return F.col("item_id").cast("long")


def _sample_keys(base: DataFrame, s_ids: np.ndarray):
    """The Spark flow's sampling keys for the driver pass's rows (ids
    ascending): xxhash64 of each id (the split windows' order) and
    `deterministic_cap`'s thinning (the quantizer's), from one small
    job above COMPRESS_MAX_TRAIN rows; (None, None) below."""
    n = len(s_ids)
    if n <= COMPRESS_MAX_TRAIN:
        return None, None
    pdf = (base.select(_id64().alias("item_id"))
           .select("item_id", F.xxhash64("item_id").alias("h"),
                   simsearch.cap_filter("item_id", COMPRESS_MAX_TRAIN,
                                        n).alias("keep"))
           .toPandas().sort_values("item_id"))
    if not np.array_equal(pdf["item_id"].to_numpy(np.int64), s_ids):
        raise RuntimeError("build_energy: the items frame is not "
                           "deterministic")
    return pdf["h"].to_numpy(np.int64), pdf["keep"].to_numpy(bool)


def _nearest_child(M: np.ndarray, children: np.ndarray,
                   first_id: int) -> np.ndarray:
    """G13b's split rule, both tiers: each member row of M moves to the
    child of least d² = x·x − 2·x·c + c·c, each dot folded as Spark's
    aggregate(zip_with) (`search.fold_dot`); NaN ranks last, as Spark
    sorts it, and ties go to the lower child, `first_id`."""
    MT = M.T
    ff = fold_dot((x, x) for x in MT)
    d2 = [ff - 2.0 * fold_dot(zip(MT, ch)) + fold_dot(zip(ch, ch))
          for ch in children]
    second = (d2[1] < d2[0]) | (np.isnan(d2[0]) & ~np.isnan(d2[1]))
    return np.where(second, first_id + 1, first_id).astype(np.int64)


def _split_reassign(spark, children: dict):
    """The Spark flow's G13b move: one narrow pandas UDF over
    (centroid_id, features) that moves the members of each split token
    (`children`: parent → (first child id, 2×F centers)) by
    `_nearest_child` and passes every other row through."""
    bc = spark.sparkContext.broadcast(children)

    @F.pandas_udf("long")
    def reassign(cid: pd.Series, feats: pd.Series) -> pd.Series:
        cids = cid.to_numpy(np.int64)
        out = cids.copy()
        for parent, (first_id, ch) in bc.value.items():
            rows = np.nonzero(cids == parent)[0]
            if len(rows):
                out[rows] = _nearest_child(
                    np.stack(feats.to_numpy()[rows]).astype(np.float64),
                    ch, first_id)
        return pd.Series(out)

    return reassign


def _build_energy_driver(base: DataFrame, edges: DataFrame,
                         eparams: EnergyParams, gparams: GraphParams,
                         k_tokens: int) -> EnergyIndex:
    """`build_energy`'s driver tier: X and the edge list are collected
    once each and every stage runs in numpy, in the Spark flow's
    operation order, so λ, e_raw, τ, L_F and the assignment are the
    Spark flow's values (centroid moments up to the member order of a
    mean). One frame goes back: the items, as one eager-released
    parquet handoff."""
    spark = base.sparkSession
    blk = lam_ops.DRIVER_BLOCK  # the assignment pass's row block
    s_ids, X, src, dst, w = matrix_mod.collect_graph(base, edges)
    n = len(s_ids)

    # G13a: the trim cut `trim_edges` takes, on the untrimmed weights
    cut = (stats.exact_percentile(w, eparams.trim_quantile)
           if eparams.trim_quantile > 0 else None)
    keep = w >= cut if cut is not None else np.ones(len(w), dtype=bool)
    kept_edges = (edges.filter(F.col("weight") >= F.lit(cut))
                  if cut is not None else edges).persist()

    # G12 on the untrimmed graph, as `_diffuse_driver` runs it
    dinfo = None
    if eparams.steps > 0:
        X = _diffuse_steps(X, matrix_mod.sym_segments(src, dst, w, n),
                           eparams.eta, eparams.steps)
        dinfo = {"tier": "driver", "n_sym_edges": None}
    lf = lam_ops.laplacian_from_edges(X, src[keep], dst[keep], w[keep])
    del src, dst, w, keep

    e_raw, g, median = lam_ops.driver_components(X, lf)
    tau_synth = _checked_tau(median)
    # lambda_index.blend's SQL operation order
    lam = tau_synth * (e_raw / (e_raw + tau_synth)) + (1.0 - tau_synth) * g
    del g

    # G14: the Spark flow's quantizer on its training rows (all of
    # them up to COMPRESS_MAX_TRAIN) and ivf_assign's nearest cell
    h, cap_keep = _sample_keys(base, s_ids)
    train = (slice(None) if cap_keep is None
             else np.nonzero(cap_keep)[0][:COMPRESS_MAX_TRAIN])
    centers0 = simsearch.lloyd_kmeans(X[train], k_tokens, seed=42)
    cid = np.concatenate([
        simsearch.nearest_cells(X[b:b + blk], centers0)[:, 0]
        for b in range(0, n, blk)]).astype(np.int64)

    def moments(c: int) -> dict:
        m = cid == c
        return _centroid_moments(X[m], lam[m], e_raw[m])

    attrs = {int(c): moments(c) for c in np.unique(cid)}
    # G13b: split the tokens above the split_quantile of dispersion
    split_cut = stats.exact_percentile(
        [a["disp_c"] for a in attrs.values()], eparams.split_quantile)
    next_id = k_tokens
    for c in sorted(c for c, a in attrs.items() if a["disp_c"] > split_cut):
        members = rows = np.nonzero(cid == c)[0]
        if len(members) > COMPRESS_MAX_TRAIN:
            # the Spark flow's member window: first by (xxhash64, id)
            rows = np.sort(members[np.lexsort(
                (s_ids[members], h[members]))[:COMPRESS_MAX_TRAIN]])
        children = _split_children(X[rows], eparams.split_tau)
        if children is None:
            continue
        cid[members] = _nearest_child(X[members], children, next_id)
        del attrs[c]
        for child in (next_id, next_id + 1):
            if np.any(cid == child):
                attrs[child] = moments(child)
        next_id += 2

    items = matrix_to_frame(
        spark, s_ids, X, "item_id", "features", eager_release=True,
        scalars={"e_raw": e_raw, "lambda": lam, "centroid_id": cid},
        parts=int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    # from pandas, so Arrow ships it (a frame of Python rows starts a
    # PythonRDD and a plain Python worker); `center` as Python lists,
    # which the non-Arrow fallback's type verifier accepts
    cents = sorted(attrs.items())
    centroids = spark.createDataFrame(pd.DataFrame({
        "centroid_id": [c for c, _ in cents],
        "n_members": [int(a["n_members"]) for _, a in cents],
        **{m: [float(a[m]) for _, a in cents]
           for m in ("lambda_c", "e_c", "disp_c")},
        "center": [a["center"].tolist() for _, a in cents]}),
        _CENTROID_SCHEMA).coalesce(1).localCheckpoint(eager=False)
    return EnergyIndex(items=items, centroids=centroids, edges=kept_edges,
                       feature_laplacian=lf, graph_params=gparams,
                       energy_params=eparams, tau_synth=tau_synth,
                       diffusion_info=dinfo)


def _checked_tau(median: "float | None") -> float:
    """τ_synth from the e_raw median; a collapsed spectrum raises."""
    tau_synth = float(median) if median is not None else 0.0
    if not (tau_synth > 0.0):
        raise ValueError(
            "degenerate energy index: diffusion collapsed the spectrum "
            f"(median energy {tau_synth}); lower eta/steps "
            "(reference sweep shows collapse at eta=0.1, steps=8)"
        )
    return tau_synth


def build_energy(
    items: DataFrame,
    eparams: EnergyParams,
    gparams: GraphParams,
    id_col: str = "item_id",
    feat_col: str = "features",
    edges: DataFrame | None = None,
) -> EnergyIndex:
    """Energy pipeline build. Pass `edges` to reuse an already-built
    λτ-graph (e.g. `ArrowSpaceIndex.edges` from the standard build over
    the SAME items/params): a real pipeline building both indexes from
    one corpus runs the expensive graph build once, not twice.

    One census aggregate (`matrix.census`) checks the input contract
    and takes N, F and, with `edges`, E; without `edges` it runs before
    the kNN stage and hands it (N, F). Two tiers follow:

    - driver tier, when `matrix.driver_fits` (the one driver-tier
      rule) holds with the handoff check: X and the edge list are each
      collected once, trim cut, diffusion, L_F, e_raw/g, τ, λ, the
      quantizer, the assignment, the centroid moments and the split all
      run in numpy (`_build_energy_driver`), and the items go back as
      one eager-released parquet handoff.
    - the Spark flow beyond: `trim_edges`, `diffuse` and
      `lambda_index.feature_laplacian` (each applies the rule at its
      own price), the one λ pass, the ivf_assign pass, the grouped
      centroid kernel and the split's pandas UDF. Each intermediate
      cache is dropped once every frame that reads it is materialized.

    Both tiers train the quantizer and each split on the same rows (all
    up to COMPRESS_MAX_TRAIN, else the same xxhash64 samples of the
    ids) and move members by one rule (`_nearest_child`), so λ, e_raw,
    τ, L_F and `centroid_id` agree between them.

    The index holds three caches: its items, its centroids and its
    (trimmed) edges. Raises the census's ValueError, and ValueError on
    duplicate ids (driver tier) and a collapsed spectrum."""
    base = items.select(F.col(id_col).alias("item_id"),
                        F.col(feat_col).alias("features"))
    # same single-row-group scan-parallelism guard as the standard
    # builder (see builder.py): without it every corpus pass below
    # runs on one task when the input parquet is unsplittable
    base = matrix_mod.with_scan_parallelism(base, int(
        items.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")))
    if gparams.normalise:
        # P1 unit-norm pre-normalization, mirroring the standard
        # builder (builder.py): extend_energy normalises appended
        # vectors when gparams.normalise, so the base corpus MUST be
        # stored at the same scale — otherwise appended items' λ/e and
        # their L2-argmin centroid assignment run against raw-scale
        # members and centers (ADVICE r8 medium). When `edges` is
        # passed in from a standard build it was computed on the
        # normalised corpus already (and rectified-cosine topology is
        # scale-invariant anyway), so the graphs agree either way.
        from ..functions import vector as V

        base = base.withColumn("features", V.l2_normalize("features"))

    own_edges = edges is None
    if own_edges:
        base = base.persist()
    else:
        # caller-owned frame (usually already persisted by the standard
        # build) — re-persisting it would double-cache the same plan
        edges = edges.select("src", "dst", "weight")
    try:
        # materializes base, if persisted, and the given edges
        n_items, n_features, n_edges = matrix_mod.census(
            base, None if own_edges else edges)
        if n_items == 0:
            raise ValueError("build_energy: the items frame is empty")
    except ValueError:
        base.unpersist()
        raise
    if own_edges:
        edges = knn_ops.knn_edges(base, gparams,
                                  shape=(n_items, n_features)).persist()
        n_edges = edges.count()
    k_tokens = int(eparams.optical_tokens or 40)
    if matrix_mod.driver_fits(items.sparkSession, n_items, n_features,
                              n_edges, handoff=True):
        idx = _build_energy_driver(base, edges, eparams, gparams, k_tokens)
        if own_edges:
            # the items went back as a handoff; the lazily trimmed
            # edges are the kNN graph's last reader
            if idx.edges is not edges:
                idx.edges.count()
                edges.unpersist()
            base.unpersist()
        return idx
    if not base.is_cached:
        base = base.persist()

    # G13a trim cut FIRST: its percentile is the first action on the
    # persisted edges, so cache materialization rides the cut
    # computation instead of being a separate post-diffuse scan
    # (r5 brief #7); the census count picks the percentile tier.
    kept_edges = trim_edges(edges, eparams.trim_quantile,
                            n_edges=n_edges).persist()

    # G12: diffusion smoothing (reads the now-cached edges), tiered by
    # the census above; its record is the index's `diffusion_info`
    diffused, dinfo = _diffuse_tiered(
        base, edges, eparams.eta, eparams.steps, "item_id", "features",
        n_items, n_features, n_edges)
    diffused = diffused.persist()

    # λ/e on the *diffused* space: the one λ pass, τ-synthesis and the
    # blend JVM-side (`lambda_index.components_with_median`)
    lf = lam_ops.feature_laplacian(diffused, kept_edges, n_features)
    # its census materialized diffused and kept_edges, the last readers
    # of base and of our untrimmed edges
    if own_edges and kept_edges is not edges:
        edges.unpersist()
    base.unpersist()
    comp, median = lam_ops.components_with_median(diffused, lf, n_items)
    diffused.unpersist()
    tau_synth = _checked_tau(median)
    # the energy items keep e_raw and λ, as the driver pass's do
    indexed = lam_ops.blend(comp, tau_synth).drop("g").persist()

    # G14: optical-token compression — the repo's deterministic seeded
    # Lloyd quantizer (operators/simsearch.lloyd_kmeans, shared with
    # IVF and the correctness oracle) instead of an engine-internal
    # KMeans whose k-means|| init is not replayable outside the JVM.
    # Training collects a deterministically hash-capped matrix via the
    # Arrow path; assignment stays fully distributed (broadcast-gemm
    # argmin), so the plan scales exactly like IVF.
    train = simsearch.deterministic_cap(
        indexed.select(_id64().alias("item_id"), "features"), "item_id",
        COMPRESS_MAX_TRAIN, n_rows=n_items)
    _, x_train = collect_id_matrix(train.orderBy("item_id"),
                                   "item_id", "features")
    comp.unpersist()  # the collect scanned, so materialized, indexed
    centers0 = simsearch.lloyd_kmeans(x_train, k_tokens, seed=42)
    del x_train
    # the assignment is a column on `indexed` (ivf_assign is a
    # withColumn): no self-join, no shuffle
    with_c = (
        simsearch.ivf_assign(indexed, centers0, "features", "cells",
                             n_probe=1)
        .withColumn("centroid_id", F.col("cells")[0].cast("long"))
        .drop("cells")
        # persisted: consumed by the first attrs pass, the split-member
        # collect, and the reassignment scan
        .persist())

    centroids = _centroid_attrs(with_c).persist()

    # G13b: one bounded dispersion-split pass. Centroids above the
    # `split_quantile` of member-λ dispersion are split in two (see
    # `_split_children`). One collect of the (≤ ~2·optical_tokens row)
    # centroid table replaces a percentile job + filter collect; the
    # cut is Spark's exact `percentile` replayed on the driver
    # (`stats.exact_percentile`), bit for bit, so a centroid landing
    # exactly on the cut compares as the oracle's does.
    crows = centroids.select("centroid_id", "disp_c").collect()
    indexed.unpersist()  # the kernel read, so materialized, with_c
    split_cut = stats.exact_percentile([r["disp_c"] for r in crows],
                                       eparams.split_quantile)
    to_split = sorted(
        int(r["centroid_id"]) for r in crows if r["disp_c"] > split_cut)
    if to_split:
        # ONE capped member collect for all split tokens, driver-side
        # SVD+Lloyd per token, then ONE narrow pass moves the members
        # (`_split_reassign`) and the children's attributes are
        # recomputed.
        spark = items.sparkSession
        # above COMPRESS_MAX_TRAIN a token trains on an unbiased,
        # deterministic sample: its first members by xxhash64 of the id
        wcap = Window.partitionBy("centroid_id").orderBy(
            F.xxhash64(_id64()), "item_id")
        mem = (
            with_c.filter(
                F.col("centroid_id").isin([int(c) for c in to_split]))
            .select("item_id", "centroid_id", "features")
            .withColumn("_rn", F.row_number().over(wcap))
            .filter(F.col("_rn") <= COMPRESS_MAX_TRAIN)
            .drop("_rn")
            .toPandas()
        )
        next_id = k_tokens
        children: dict = {}
        for cid in to_split:
            sub = mem[mem["centroid_id"] == cid].sort_values("item_id")
            ch = (_split_children(
                np.stack(sub["features"].to_numpy()).astype(np.float64),
                eparams.split_tau) if len(sub) else None)
            if ch is None:
                continue
            children[cid] = (next_id, ch)
            next_id += 2
        if children:
            # Materialize the moved members WHILE the pre-split cache
            # is warm, THEN drop it (ADVICE r5 — without the unpersist
            # it holds executor storage for the index lifetime).
            with_c0 = with_c
            with_c = with_c0.withColumn(
                "centroid_id", _split_reassign(spark, children)(
                    "centroid_id", "features")).persist()
            with_c.count()
            with_c0.unpersist()
            child_attrs = _centroid_attrs(
                with_c.filter(F.col("centroid_id") >= F.lit(k_tokens)))
            cents0 = centroids
            centroids = (
                cents0.filter(~F.col("centroid_id").isin(list(children)))
                .unionByName(child_attrs).persist()
            )
            centroids.count()
            cents0.unpersist()

    return EnergyIndex(
        items=with_c,
        centroids=centroids,
        edges=kept_edges,
        feature_laplacian=lf,
        graph_params=gparams,
        energy_params=eparams,
        tau_synth=tau_synth,
        diffusion_info=dinfo,
    )


def extend_energy(
    index: EnergyIndex,
    new_items: DataFrame,
    id_col: str = "item_id",
    feat_col: str = "features",
    refresh_centroid_attrs: bool = True,
    check_ids: bool = False,
) -> EnergyIndex:
    """Batch incremental energy-index maintenance — the energy twin of
    `ArrowSpaceBuilder.extend` (builder.py), with the same frozen-
    artifact contract: the λτ-graph, the F×F Laplacian, τ_synth, and
    the centroid CENTERS stay frozen, so extend cost is O(new items)
    regardless of index size, and a periodic full rebuild re-absorbs
    drift (the reference has no incremental surface at all,
    src/lib.rs:303-376 — this is engine parity with our own standard-
    index lifecycle, not a reference API).

    Per new item: (1) normalise if the base build did; (2) λ/e against
    the FROZEN diffused-space Laplacian with the build's τ_synth — note
    the new vectors enter UN-diffused, which is exactly what the frozen
    graph implies (a node with no edges is a fixed point of the
    diffusion recurrence x ← x − η·(L·x), so diffusing against the
    frozen graph would be the identity on them); (3) assignment to the
    nearest frozen centroid center (broadcast gemm argmin, the same
    `ivf_assign` kernel as the build — O(new × K)); (4) append.

    `refresh_centroid_attrs` (default on) recomputes the scalar moments
    (λ/e means, dispersion, n_members — NOT the centers) for only the
    centroids that received new members, so the search shortlist ranks
    with current statistics; cost is one grouped kernel over the
    affected centroids' members. With it off, the centroid table is
    fully frozen and only the member rescore sees the new items.

    Id uniqueness is the CALLER's contract (same as the standard
    builder's extend): appending an item_id that already exists
    silently duplicates it in every downstream rescore. `check_ids`
    (default off) verifies it with one broadcast join probe against
    the existing items table PLUS a groupBy probe for duplicates
    within the new batch itself — off by default because the first
    probe scans the existing items table, which breaks the O(new
    items) cost contract on a large index.
    """
    # the energy items keep e_raw and λ, as the build's do
    indexed = lam_ops.indexed_batch(
        new_items, index.feature_laplacian, index.tau_synth,
        index.graph_params.normalise, id_col, feat_col)
    if indexed is None:
        return index
    indexed = indexed.drop("g")
    if check_ids:
        dup = (index.items.select("item_id")
               .join(F.broadcast(indexed.select("item_id")), "item_id")
               .first())
        if dup is not None:
            raise ValueError(
                f"extend_energy: item_id {dup['item_id']} already "
                "exists in the index (ids must be unique)")
        dup_in = (indexed.groupBy("item_id").count()
                  .filter(F.col("count") > 1).first())
        if dup_in is not None:
            raise ValueError(
                f"extend_energy: item_id {dup_in['item_id']} appears "
                f"{dup_in['count']} times in the new batch "
                "(ids must be unique)")

    # Frozen centers: collect the (≤ ~2·optical_tokens)-row centroid
    # table once; ivf_assign returns POSITIONS into that matrix, which
    # a literal-array lookup maps back to centroid_ids (split children
    # are not contiguous: parents were removed, children start at
    # k_tokens).
    crows = (index.centroids.select("centroid_id", "center")
             .orderBy("centroid_id").collect())
    centers = np.stack([np.asarray(r["center"], dtype=np.float64)
                        for r in crows])
    cid_lits = F.array(*[F.lit(int(r["centroid_id"])) for r in crows])
    assigned = (
        simsearch.ivf_assign(indexed.select("item_id", "features"),
                             centers, "features", "cells", n_probe=1)
        # element_at is 1-indexed
        .select("item_id",
                F.element_at(cid_lits, F.col("cells")[0] + 1)
                .cast("long").alias("centroid_id"))
    ).localCheckpoint(eager=True)
    # eager localCheckpoint, NOT persist: it is consumed by the items
    # join below AND the affected-centroid distinct — as a lazy plan
    # the ivf_assign gemm and the upstream λ kernel over the new items
    # ran twice (ADVICE r8). A persist() fixed the recompute but was
    # never unpersisted, so repeated extends on a long-lived session
    # accumulated cached frames (ADVICE r9). The checkpoint
    # materializes the (O(new items), narrow) frame exactly once, and
    # its blocks are reclaimed by the ContextCleaner when the frame
    # goes out of scope — no session-lifetime leak, no recompute.
    new_members = indexed.join(assigned, "item_id")
    items_all = index.items.unionByName(new_members)

    centroids = index.centroids
    if refresh_centroid_attrs:
        affected = [int(r["centroid_id"]) for r in
                    assigned.select("centroid_id").distinct().collect()]
        if affected:
            refreshed = _centroid_attrs(
                items_all.filter(F.col("centroid_id").isin(affected)))
            # the grouped kernel recomputes scalar moments from ALL
            # members (old + new) of the affected centroids, but the
            # CENTER must stay the frozen one the assignment used —
            # otherwise repeated extends would silently drift the
            # quantizer without re-running Lloyd.
            frozen_centers = index.centroids.select(
                "centroid_id", "center")
            refreshed = refreshed.drop("center").join(
                F.broadcast(frozen_centers), "centroid_id")
            centroids = (
                index.centroids.filter(
                    ~F.col("centroid_id").isin(affected))
                .unionByName(refreshed.select(*index.centroids.columns))
            )

    return EnergyIndex(
        items=items_all,
        centroids=centroids,
        edges=index.edges,
        feature_laplacian=index.feature_laplacian,
        graph_params=index.graph_params,
        energy_params=index.energy_params,
        tau_synth=index.tau_synth,
        # extend never re-diffuses; the build-time record carries over
        diffusion_info=index.diffusion_info,
    )


def _centroid_scalars(index: EnergyIndex):
    """(centroid_id asc, λ_c, e_c) of the index's centroid table: one
    collect of ≤ ~2·optical_tokens rows, memoized on the index and
    keyed on the centroids frame object, so a frame swapped in later
    is read afresh."""
    memo = index._centroid_memo
    if memo is None or memo[0] is not index.centroids:
        rows = sorted(index.centroids.select(
            "centroid_id", "lambda_c", "e_c").collect())
        memo = (index.centroids,
                np.array([r[0] for r in rows], dtype=np.int64),
                *(np.array([r[j] for r in rows], dtype=np.float64)
                  for j in (1, 2)))
        index._centroid_memo = memo
    return memo[1:]


def _energy_score(wl, wd, q_lam, q_e, lam, e):
    """wl/(1+|λq−λ|) + wd/(1+|eq−e|) for every (query, row) pair, in
    the operation order of the same expression in Spark SQL (and in
    the oracle's DuckDB twin), so each IEEE result is the one an SQL
    engine computes."""
    with np.errstate(invalid="ignore"):
        return (wl / (1.0 + np.abs(q_lam[:, None] - lam[None, :]))
                + wd / (1.0 + np.abs(q_e[:, None] - e[None, :])))


def search_energy(
    index: EnergyIndex,
    query: np.ndarray,
    k: int,
    w_lambda: float = 1.0,
    w_dirichlet: float = 0.5,
    query_ids: "list[int] | None" = None,
) -> DataFrame:
    """Cosine-free energy search (reference src/lib.rs:232-262):
    shortlist `candidate_m` centroids by energy score, exact-rescore
    their members, top-k. Returns DataFrame[query_id, item_id, score,
    rank], rank 1-based on (score desc, item_id asc).

    Batch-first (engine convention, parity-plus vs the reference's
    single-vector API): `query` may be an (M, F) matrix, and all M
    queries run as ONE plan. `query_ids` labels the output rows
    (default 0..M-1); they must be unique and non-null. An empty
    (0, F) matrix returns a typed empty frame.

    Plan: the shortlist is computed on the driver. The centroid
    scalars (centroid_id, λ_c, e_c) are collected once per centroids
    frame and memoized on the index (`extend_energy` and `load` return
    new indexes, each with its own memo). Per query the first
    `candidate_m` centroids by (score desc, centroid_id asc) are kept,
    the order of a SQL ranking window. One `mapInPandas` kernel then
    scans only the members of the shortlisted centroids. It
    broadcasts the query λ/e and the queries×centroids shortlist
    mask, scores every (query, member) pair the mask admits, and emits
    per query only the rows that can still reach its top k; the
    `search.ranked` window picks k. The one shuffle is on query_id;
    there is no join.

    Scores equal the SQL expression bit for bit (same operation
    order, fp64). A NaN score, centroid or member, ranks first, where
    Spark's descending sort puts NaN.
    """
    q = np.atleast_2d(np.asarray(query, dtype=np.float64))
    lf = index.feature_laplacian
    if q.shape[1] != lf.shape[0]:
        raise ValueError(f"query has {q.shape[1]} features, index has {lf.shape[0]}")
    if query_ids is None:
        query_ids = list(range(q.shape[0]))
    if len(query_ids) != q.shape[0]:
        raise ValueError(
            f"{len(query_ids)} query_ids for {q.shape[0]} queries")
    check_query_ids(list(query_ids))
    qids = np.array([int(i) for i in query_ids], dtype=np.int64)
    q_e, _, q_lam = lam_ops.lambda_kernel(q, lf, index.tau_synth)
    cand_m, k = max(0, int(index.energy_params.candidate_m)), int(k)
    wl, wd = float(w_lambda), float(w_dirichlet)

    cid, lam_c, e_c = _centroid_scalars(index)
    cs = _energy_score(wl, wd, q_lam, q_e, lam_c, e_c)
    # window order: NaN first, then score desc; the stable sort keeps
    # centroid_id asc among ties
    nan = np.isnan(cs)
    top = np.lexsort((-np.where(nan, 0.0, cs), ~nan), axis=1)[:, :cand_m]
    mask = np.zeros(cs.shape, dtype=bool)
    np.put_along_axis(mask, top, True, axis=1)
    shortlisted = cid[mask.any(axis=0)]

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("item_id", index.items.schema["item_id"].dataType),
        T.StructField("score", T.DoubleType())])
    bq = index.items.sparkSession.sparkContext.broadcast({
        "qids": qids, "lam": q_lam, "e": q_e, "mask": mask, "cid": cid})

    def kernel(batches):
        qv = bq.value
        m = len(qv["qids"])
        for pdf in batches:
            if not (len(pdf) and m):
                continue
            # every row's centroid is shortlisted by the scan's filter
            pos = np.searchsorted(qv["cid"], pdf["centroid_id"].to_numpy(
                np.int64))
            lam = pdf["lambda"].to_numpy(np.float64)
            e = pdf["e_raw"].to_numpy(np.float64)
            ids = pdf["item_id"].to_numpy()
            for b0 in range(0, m, QUERY_BLOCK):
                blk = slice(b0, min(b0 + QUERY_BLOCK, m))
                valid = qv["mask"][blk][:, pos]
                S = _energy_score(wl, wd, qv["lam"][blk], qv["e"][blk],
                                  lam, e)
                oq, orow = np.nonzero(
                    block_topk(S, np.zeros_like(valid), valid, k))
                yield pd.DataFrame({
                    "query_id": qv["qids"][blk][oq],
                    "item_id": ids[orow],
                    # Arrow-backed, so NaN stays NaN
                    "score": pd.arrays.ArrowExtensionArray(
                        pa.array(S[oq, orow]))})

    members = (index.items
               .filter(F.col("centroid_id").isin(shortlisted.tolist()))
               .select("item_id", "centroid_id", "lambda", "e_raw"))
    return ranked(members.mapInPandas(kernel, out_schema), k, "item_id",
                  "query_id")
