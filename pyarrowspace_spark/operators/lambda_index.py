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

Scale design: L_F is F×F (384² ≈ 1.2 MB) — tiny. `feature_laplacian`
has two tiers, one algebra: Xᵀ(deg∘X − W·X) with W·X the one
neighbour combine `functions.matrix.segment_sum`. Driver numpy when
the one driver-tier rule (`functions.matrix.driver_fits`) holds, else
one spool plan — X written once, exact fp64 and id-sorted, to scratch
every executor reads, the edge list in the one dst-partitioned layout
(`functions.matrix.dst_layout`), and one F×F partial per partition over
its destinations (mapInPandas → driver sum); no vector is shuffled. L_F
is then broadcast back for the per-item λ pass, which is a narrow,
Arrow-batched vectorized map. No N×N materialization anywhere.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import spool
from ..functions import matrix, stats
from ..functions import vector as V


def feature_laplacian(
    items: DataFrame,
    edges: DataFrame,
    n_features: int,
    id_col: str = "item_id",
    feat_col: str = "features",
    x_source: dict | None = None,
    counts: "tuple[int, int] | None" = None,
) -> np.ndarray:
    """Compute L_F = Xᵀ (D - W) X.

    Decomposition:  L_F = Σ_i deg_i·x_i x_iᵀ  -  Σ_{(i,j)∈E} w_ij·(x_i x_jᵀ + x_j x_iᵀ)

    Two physical tiers, one logical contract; one census aggregate
    (N, F, E) checks the input contract (`matrix.census`; an empty
    items frame raises too) and picks the tier. The census scans
    `edges` in full before either tier reads it again, so pass a
    persisted edge frame: an unpersisted plan (a fresh kNN graph, say)
    is computed twice. `counts`: the caller's (N, E) from
    `matrix.census(items, edges)`, so the census is not run twice.

    - driver tier, when `matrix.driver_fits` holds without the handoff
      check (the one driver-tier rule; nothing goes back to Spark):
      X and the edge list collected once (`matrix.collect_graph`), then
      driver-side numpy as Xᵀ·(deg∘X − W·X): one
      neighbour combine W·X over both orientations of the edge list
      (`matrix.segment_sum`, E·F flops, one N×F output) and one N×F²
      gemm. Memory is O(N·F) whatever the edge count — X, deg∘X − W·X
      and the combine's output, ≤ 4·N·F·8 bytes with the combine's
      per-row gather — plus O(E) index scalars. The edge-side form
      (X[si]·w)ᵀ·X[di] needed three E×F temporaries and 2·E·F² flops:
      445 MB traced and 1.2–2.1 s on a random N=4,000, F=384, E=75,638
      graph, against 26 MB and 0.29–0.34 s for this form (4-core host).
    - spool tier beyond, with no row ceiling: X is written ONCE, exact
      fp64 and id-sorted, to a spool on scratch every executor reads
      (`spool.scratch`), and one job runs the driver tier's algebra by
      destination: the edge list, both orientations, is hash-partitioned
      by dst and sorted by (dst, src) (`matrix.dst_layout`, 2E narrow
      rows exchanged), and each partition's kernel combines W·X for its
      destinations D from the shared mmap (`matrix.segment_sum`) and
      emits one F×F partial X_Dᵀ·(deg∘X_D − W·X)_D. No vector is
      shuffled; the driver sums #partitions × F² doubles in partition
      order, independent of N.
      The spool comes from `spool.write`'s one source rule: the proven
      corpus parquet `x_source` (`spool.parquet_scan_source`),
      streamed; else, on single-host masters, tasks scatter their rows
      of `items` into it after one narrow ids job; else, on multi-host
      masters, a task-written parquet copy of `items`, streamed. X is
      never collected on the driver; the kernel reopens the spool
      through `spool.reopen`.

    The spool tier raises rather than degrade: RuntimeError when a
    multi-host master has no worker-visible SPARK_GRAFT_SCRATCH_DIR,
    RuntimeError when the scratch filesystem lacks N·F·8 + 64 MiB free
    (plus N·F·8 on a multi-host master with no `x_source`, where the
    parquet copy runs; checked before any byte is written, the message
    states both byte counts and the directory), and ValueError on
    duplicate ids. Its spool dir is removed on every path.
    """
    spark = items.sparkSession
    n, n_edges = (counts if counts is not None else
                  matrix.census(items, edges, feat_col, id_col)[::2])
    if n == 0:
        raise ValueError("feature_laplacian: the items frame is empty")
    if matrix.driver_fits(spark, n, n_features, n_edges, handoff=False):
        _, X, si, di, w = matrix.collect_graph(items, edges, id_col,
                                               feat_col)
        return laplacian_from_edges(X, si, di, w)

    op = "feature_laplacian: the spool tier"
    fdim = n_features
    root, task_write = spool.scratch(spark, op)
    # the parquet copy, the one source that writes N·F·8 twice, runs
    # only on multi-host masters with no proven corpus scan
    copy = x_source is None and not task_write
    what = ("N·F·8 for the spool and N·F·8 for the parquet copy" if copy
            else "N·F·8")
    spool.check_free(root, n * fdim * 8 * (2 if copy else 1) + (64 << 20),
                     op, f"{what} + 64 MiB at N={n}, F={fdim}")
    d = spool.make_dir(root, "pyarrowspace-lfx-")
    try:
        spool.write(items, id_col, feat_col, n, fdim, d, "x", op, x_source)
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        # Arrow fetch, not .collect(): the result is P×F² scalar rows
        # (32×147,456 = 4.7M at F=384), which the row path pays for in
        # driver pickle.loads and Row construction
        parts_pdf = (matrix.dst_layout(edges, n_parts)
                     .mapInPandas(_make_laplacian_kernel(d), "partial double")
                     ).toPandas()
    finally:
        # toPandas() is eager, so nothing can re-read the spool: it
        # dies here, not at session exit
        spool.drop_dir(d)
    flat = parts_pdf["partial"].to_numpy(dtype=np.float64)
    lf = flat.reshape(-1, fdim, fdim).sum(axis=0)
    return (lf + lf.T) / 2.0


def laplacian_from_edges(X: np.ndarray, si: np.ndarray, di: np.ndarray,
                         w: np.ndarray) -> np.ndarray:
    """The driver tier's L_F from X and an undirected edge list given
    as row positions (si, di) with weights w: L·X = deg∘X − W·X over
    both orientations of each edge (the neighbour combine diffusion
    runs, `matrix.segment_sum`), then one N×F² gemm, symmetrized."""
    seg = matrix.sym_segments(si, di, w, len(X))
    LX = seg.deg[:, None] * X
    LX -= matrix.segment_sum(X, seg)
    lf = X.T @ LX
    return (lf + lf.T) / 2.0


def _make_laplacian_kernel(d: str):
    """mapInPandas kernel over one `matrix.dst_layout` partition of the
    edges: the partition's destinations D hold all their incoming
    edges, so it emits its share of L_F, X_Dᵀ·(deg∘X_D − W·X)_D, as F²
    rows of one double — `laplacian_from_edges`'s algebra split by
    destination, with W·X from `matrix.segment_sum` over the id-sorted
    X spool in `d`."""
    x_path = os.path.join(d, "x.npy")
    s_path = os.path.join(d, "sids.npy")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        X, s_ids = spool.reopen(x_path, s_path)
        rows = np.arange(len(s_ids), dtype=np.int64)
        part = matrix.partition_segments(
            batches, lambda ids: matrix.positions_of(ids, s_ids, rows))
        if part is None:
            return
        _, dpos, seg = part
        XD = X[dpos]
        LX = seg.deg[:, None] * XD
        LX -= matrix.segment_sum(X, seg)
        yield pd.DataFrame({"partial": (XD.T @ LX).ravel()})

    return kernel


def lambda_kernel(X: np.ndarray, LF: np.ndarray, tau: float,
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

    A row's values do not depend on the other rows of the call (the
    Arrow batch, the driver block or the query mix) nor on the caller's
    BLAS pool: the matrix products run on one OpenBLAS thread
    (`matrix.one_blas_thread`), the products with a vector are einsum loops,
    not BLAS matrix-vector calls, which round a call's trailing rows
    differently, and an odd X gets a copy of its last row, since this
    OpenBLAS build's dgemm rounds an odd trailing row as a gemv does.
    """
    with matrix.one_blas_thread():
        return _lambda_rows(X, LF, tau, w_pos)


def _lambda_rows(X: np.ndarray, LF: np.ndarray, tau: float,
                 w_pos: np.ndarray | None
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    n = len(X)
    if n % 2:
        X = np.concatenate([X, X[-1:]])
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
    tot = 2.0 * (np.einsum("bi,i->b", X2, s1)
                 - np.einsum("bi,bi->b", X @ w_pos, X))
    sumsq = (2.0 * np.einsum("bi,i->b", X4, s2)
             + 6.0 * np.einsum("bi,bi->b", X2 @ W2, X2)
             - 8.0 * np.einsum("bi,bi->b", X3 @ W2, X))
    with np.errstate(divide="ignore", invalid="ignore"):
        g_raw = np.where(tot > 0, sumsq / (tot * tot), 0.0)
    g = np.clip(g_raw, 0.0, 1.0)
    s_val = tau * e_b + (1.0 - tau) * g
    return e_raw[:n], g[:n], s_val[:n]


# Row block of every driver pass's per-row kernels: `lambda_kernel`
# holds ~7 block×F temporaries, which a bounded block keeps small at
# any N. It bounds memory only: `lambda_kernel`'s rows do not depend on
# the block they are computed in.
DRIVER_BLOCK = 1024


def driver_components(X: np.ndarray, lf: np.ndarray
                      ) -> "tuple[np.ndarray, np.ndarray, float | None]":
    """The driver passes' λ pass up to the blend: (e_raw, g) of every
    row of X by `lambda_kernel` in `DRIVER_BLOCK` row blocks, and
    τ_synth, their e_raw median by `stats.exact_percentile` — the
    values `components_with_median` computes in Spark. Each block is
    cut into one slice per thread of the caller's BLAS pool, run on a
    Python thread pool with BLAS on one thread: the slices, not the
    dgemm, share the cores, so the pass keeps the pool's speed and no
    row's rounding moves with its width."""
    n, blk = len(X), DRIVER_BLOCK
    e_raw, g = np.empty(n), np.empty(n)

    def run(lo: int, hi: int) -> None:
        # tau only scales e_bounded/S — e_raw and g don't depend on it
        e_raw[lo:hi], g[lo:hi], _ = lambda_kernel(X[lo:hi], lf, tau=1.0)

    with matrix.one_blas_thread() as width, ThreadPoolExecutor(width) as pool:
        step = -(-blk // width)
        for b in range(0, n, blk):
            end = min(b + blk, n)
            list(pool.map(run, range(b, end, step),
                          [min(lo + step, end) for lo in range(b, end, step)]))
    return e_raw, g, stats.exact_percentile(e_raw, 0.5)


def lambda_for_vectors(X: np.ndarray, lf: np.ndarray, tau: float) -> np.ndarray:
    """Driver-side λ for a small batch of query vectors (λ_q synthesis,
    reference src/lib.rs:152-154). Raises if any λ is 0 — the reference
    panics on mis-scaled data (src/lib.rs:156-159); we surface the same
    guard as an exception."""
    _, _, s_val = lambda_kernel(np.asarray(X, dtype=np.float64), lf, float(tau))
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
) -> DataFrame:
    """Append one struct column `_ec` (e_raw, g): BOTH τ-independent
    spectral components in a single Arrow-batched kernel pass, the one
    Spark λ pass every build, extend and stream runs. τ-synthesis
    (`components_with_median`) and the blend (`blend`) are then pure
    SQL over this column, so a build pays ONE Python pass per item."""
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
        e_raw, g, _ = lambda_kernel(X, blf.value, tau=1.0)
        return pd.DataFrame({"e_raw": e_raw, "g": g})

    return items.withColumn("_ec", ec_udf(F.col(feat_col)))


def components_with_median(items: DataFrame, lf: np.ndarray,
                           n_rows: int | None,
                           feat_col: str = "features"
                           ) -> "tuple[DataFrame, float | None]":
    """A build's λ pass up to its blend: `items` with the
    `with_energy_components` column, persisted (the caller owns the
    cache), and τ_synth, the median of its e_raw (TauMode::Median).
    The percentile is `stats.percentile_expr`'s, tiered by `n_rows`."""
    comp = with_energy_components(items, lf, feat_col).persist()
    median = comp.select(
        stats.percentile_expr("_ec.e_raw", 0.5, n_rows).alias("m")
    ).first()["m"]
    return comp, median


def blend(comp: DataFrame, tau: float) -> DataFrame:
    """The λ blend over a `with_energy_components` frame: replaces the
    struct with `e_raw`, `g` and `lambda` = S(x) at `tau`, all JVM-side."""
    return comp.select(
        "*", F.col("_ec.e_raw").alias("e_raw"), F.col("_ec.g").alias("g"),
    ).withColumn("lambda", blend_lambda_cols(
        F.col("_ec.e_raw"), F.col("_ec.g"), tau)).drop("_ec")


def with_lambda(items: DataFrame, lf: np.ndarray, tau: float,
                feat_col: str = "features") -> DataFrame:
    """Append `e_raw`, `g` and the synthetic index S(x) as `lambda` at
    a given τ: the one λ pass plus its blend (a narrow, Arrow-batched
    pass with the broadcast F×F Laplacian)."""
    return blend(with_energy_components(items, lf, feat_col), tau)


def indexed_batch(new_items: DataFrame, lf: np.ndarray, tau: float,
                  normalise: bool, id_col: str = "item_id",
                  feat_col: str = "features") -> "DataFrame | None":
    """Both extends' new batch, λ-indexed against a frozen L_F and τ:
    the census (the input contract, O(new items)), the F check, the
    alias, normalisation if the base build ran it and `with_lambda`.
    None for an empty batch."""
    n, nf, _ = matrix.census(new_items, feat_col=feat_col, id_col=id_col)
    if n == 0:
        return None
    if nf != lf.shape[0]:
        raise ValueError(
            f"new items have {nf} features, index has {lf.shape[0]}")
    add = new_items.select(
        F.col(id_col).alias("item_id"), F.col(feat_col).alias("features"))
    if normalise:
        add = add.withColumn("features", V.l2_normalize("features"))
    return with_lambda(add, lf, tau)


def blend_lambda_cols(e: F.Column, g: F.Column, tau: float) -> F.Column:
    """S(x) = τ·e/(e+τ) + (1−τ)·g from explicit component columns."""
    t = F.lit(float(tau))
    return t * (e / (e + t)) + (F.lit(1.0) - t) * g
