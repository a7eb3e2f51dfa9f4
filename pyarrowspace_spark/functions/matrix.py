"""Driver-side matrix collection helpers for the small-N fast paths.

Every driver tier that collects X (exact kNN scan, the driver-tier
feature Laplacian and one source of its spool tier, TwoNN, IVF
training) needs the corpus as an (ids, X) numpy pair. Collecting Spark
Row objects for that is catastrophically slow for wide array columns —
each of N rows materializes an F-element Python list (~60 s at N=78k,
F=384). The Arrow path (`toPandas`, enabled in session.py) moves the same data
columnar and lands it as numpy in ~2 s: same contract, 30x less wall.

`driver_fits` is the one driver-tier rule, and `collect_graph` the one
collect of every driver pass (diffusion, L_F, the energy build).

`positions_of` replaces per-edge Python dict lookups with a vectorized
sorted-search: works for arbitrary int64 ids (including 60-bit hashes),
no densification assumption. `dst_segments` + `segment_sum` are the
one neighbour combine W·X of every tier: the driver tiers' diffusion
steps and feature Laplacian, and the spool tiers' partition kernels,
which read the one edge layout `dst_layout` through
`partition_segments`.
"""

from __future__ import annotations

import atexit
import contextlib
import ctypes
import glob
import os
import shutil
import tempfile
import threading
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collect_id_matrix(
    df: DataFrame, id_col: str, feat_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Collect (ids int64, X float64 N x F) via the Arrow columnar path.
    `np.stack` already returns a fresh array, so a float64 stack is
    kept as is: the collect holds one copy of X."""
    pdf = df.select(id_col, feat_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    X = np.stack(pdf[feat_col].to_numpy()).astype(np.float64, copy=False)
    return ids, X


# Scratch dirs from matrix_to_frame, removed at interpreter exit. The
# frames returned from them are lazy parquet scans, so the files must
# outlive any point where Spark may (re)materialize the plan — session
# lifetime is the only safe bound for a lazy handoff. Callers that can
# tolerate an eager materialization pass `eager_release=True` instead:
# the scan is absorbed into Spark-managed block storage
# (localCheckpoint) and the files are deleted immediately, so repeated
# handoffs in one session do not grow temp disk without bound.
_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_scratch)


def driver_result_capacity(spark) -> int:
    """`spark.driver.maxResultSize` in bytes (0 = unlimited → maxsize).

    Every driver-side matrix collect is bounded by this limit — a
    collect over it doesn't spill or degrade, it ABORTS the job
    ("Total size of serialized results ... bigger than
    spark.driver.maxResultSize"). Tier choices that plan to collect
    N·F doubles must therefore consult it up front: the N=600k p_bit
    measurement crashed exactly here, collecting X for the Laplacian
    (well under that tier's 2M-row ceiling) on a session whose 1 GiB
    default allowed only ~330k rows at F=384."""
    import sys

    raw = str(spark.conf.get("spark.driver.maxResultSize", "1g"))
    nbytes = parse_size_bytes(raw, default=1024**3)
    return sys.maxsize if nbytes == 0 else nbytes


def parse_size_bytes(raw: str, default: int) -> int:
    """Spark-style size string → bytes ("2g", "512m", "1t", "1p", bare
    int = bytes). Falls back to `default` on anything unparseable —
    the callers' failure direction is conservative (smaller assumed
    capacity → distributed tier), never a crash mid-build."""
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4,
             "p": 1024**5}
    low = str(raw).strip().lower().removesuffix("b")
    mult = units.get(low[-1:], None)
    try:
        return (int(float(low[:-1]) * mult) if mult is not None
                else int(float(low)))
    except ValueError:
        return default


def collect_eligible(spark, nbytes: int) -> bool:
    """Would an Arrow collect of `nbytes` survive the session's
    `spark.driver.maxResultSize`? 0.8 margin covers the id column and
    Arrow batch framing on top of the raw value bytes."""
    return nbytes <= 0.8 * driver_result_capacity(spark)


def handoff_eligible(spark, nbytes: int) -> bool:
    """Can a driver-resident matrix of `nbytes` be handed back to Spark
    without risking the pure-python fallback's boxed-row OOM refusal?

    True when the scratch-parquet path is deployable (local master, or
    an executor-shared scratch dir is configured) or the matrix is
    small enough for the portable fallback. Callers choosing between a
    driver tier and a distributed tier should check this BEFORE doing
    driver-side work — an ineligible handoff means the distributed
    plan, not a RuntimeError after the arithmetic is already done."""
    if nbytes <= PURE_PYTHON_MAX_BYTES:
        return True
    if os.environ.get("SPARK_GRAFT_SCRATCH_DIR"):
        return True
    return spark.sparkContext.master.startswith("local")


# The one driver-tier budget for `driver_price`. The default admits a
# 78,580×384 build with 1.18M edges (≈1.4 GB), diffusion of the
# 313,841×384 anchor with 5.9M edges (≈4.2 GB), and no 1M×384 build.
DRIVER_BUDGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_DIFFUSE_BCAST_MAX", str(4 * 1024**3)))
DIFFUSE_X_COPIES = 2  # diffusion holds X and one step's W·X


def driver_price(n: int, nf: int, n_edges: int, x_copies: int = 4) -> int:
    """Priced driver peak of a pass over N×F float64 items and E
    undirected edges: `x_copies` N×F matrices plus 384·E bytes of edge
    arrays (both orientations, their sort and segment indexes). L_F and
    the index and energy builds' driver passes hold 4 (X, the combine's
    output, L·X and a gather or collect transient), diffusion
    `DIFFUSE_X_COPIES`; each
    pass's traced peak is pinned to its price by a tracemalloc test."""
    return int(x_copies) * int(n) * int(nf) * 8 + 384 * int(n_edges)


def driver_fits(spark, n: int, nf: int, n_edges: int,
                handoff: bool, x_copies: int = 4) -> bool:
    """THE driver-tier rule, read by `energy.diffuse`,
    `lambda_index.feature_laplacian`, `energy.build_energy` and
    `ArrowSpaceBuilder.build` and by nothing else: the pass's `driver_price` is within
    DRIVER_BUDGET_BYTES (env `SPARK_GRAFT_DIFFUSE_BCAST_MAX`), and

    - collecting X (N·F·8 bytes) survives spark.driver.maxResultSize (a
      collect over it ABORTS the job; the budget alone is not
      eligibility);
    - collecting the edge list (E rows × 24 B) survives it too: on a
      session whose limit barely admits X, a high-degree graph's edge
      collect could still abort after the X collect succeeded;
    - with `handoff` (the pass hands X back to Spark), the matrix can
      go back to executors (`handoff_eligible`), or a non-local
      deployment with no scratch dir would do the driver arithmetic and
      then hit the boxed-row OOM refusal."""
    x_bytes = int(n) * int(nf) * 8
    return (driver_price(n, nf, n_edges, x_copies) <= DRIVER_BUDGET_BYTES
            and collect_eligible(spark, x_bytes)
            and collect_eligible(spark, int(n_edges) * 24)
            and (not handoff or handoff_eligible(spark, x_bytes)))


def census(items: DataFrame, edges: "DataFrame | None" = None,
           feat_col: str = "features",
           id_col: str = "item_id") -> "tuple[int, int, int]":
    """(N, F, E) in ONE aggregate over both frames (over `items` alone
    without `edges`): the item count, the feature length and the edge
    count, the statistics `driver_fits` prices; (0, 0, E) for no items.
    It is also every build path's input contract (the reference checks
    once, at its builder, src/helpers.rs:24-29): a ragged, null or
    zero-length feature row or a null id raises ONE ValueError naming
    the lengths. Duplicate ids are left to `sorted_index`, which every
    driver tier and spool runs: a distinct count would cost a full
    aggregate per build."""
    feats = F.col(feat_col)
    stats = [F.count(F.lit(1)).alias("n"), F.min("_f").alias("lo"),
             F.max("_f").alias("hi"), F.sum("_nf").alias("nulls"),
             F.sum("_ni").alias("null_ids")]
    shape = items.select(F.when(feats.isNotNull(), F.size(feats)).alias("_f"),
                         feats.isNull().cast("long").alias("_nf"),
                         F.col(id_col).isNull().cast("long").alias("_ni"))
    if edges is None:
        row, n_edges = shape.agg(*stats).first(), 0
    else:
        rows = (shape.withColumn("_t", F.lit(0))
                .unionByName(edges.select(
                    F.lit(None).cast("int").alias("_f"),
                    F.lit(0).cast("long").alias("_nf"),
                    F.lit(0).cast("long").alias("_ni"),
                    F.lit(1).alias("_t")))
                .groupBy("_t").agg(*stats).collect())
        got = {int(r["_t"]): r for r in rows}
        row, n_edges = got.get(0), int(got[1]["n"]) if 1 in got else 0
    n = int(row["n"]) if row is not None else 0
    if n == 0:
        return 0, 0, n_edges
    lo, hi, nulls, null_ids = (row["lo"], row["hi"], int(row["nulls"]),
                               int(row["null_ids"]))
    if not hi or lo != hi or nulls or null_ids:
        raise ValueError(
            f"items must be rectangular with non-null ids: feature "
            f"lengths range from {lo} to {hi} over {n} rows, {nulls} of "
            f"them with null features and {null_ids} with a null id")
    return n, int(hi), n_edges


def collect_graph(items: DataFrame, edges: DataFrame,
                  id_col: str = "item_id", feat_col: str = "features"):
    """The one collect of every driver pass: (ids ascending, X's rows in
    that order, src, dst, w), each edge as the row positions of its
    endpoints, in the edge frame's order. X is collected once (Arrow
    path) and sorted on the driver (a Spark orderBy would pay a range
    exchange for it) by stacking its rows in id order, so no second
    N×F copy is made; the E edge rows are collected once. Raises
    ValueError on repeated ids and KeyError on an edge endpoint absent
    from the items (`sorted_index`, `positions_of`)."""
    pdf = items.select(id_col, feat_col).toPandas()
    s_ids, order = sorted_index(pdf[id_col].to_numpy(dtype=np.int64))
    X = np.stack(pdf[feat_col].to_numpy()[order]).astype(np.float64,
                                                          copy=False)
    del pdf, order
    rows = np.arange(len(s_ids), dtype=np.int64)
    epdf = edges.select("src", "dst", "weight").toPandas()
    src = positions_of(epdf["src"].to_numpy(np.int64), s_ids, rows)
    dst = positions_of(epdf["dst"].to_numpy(np.int64), s_ids, rows)
    return s_ids, X, src, dst, epdf["weight"].to_numpy(np.float64)


def matrix_to_frame(
    spark, ids: np.ndarray, X: np.ndarray,
    id_col: str = "item_id", feat_col: str = "features",
    eager_release: bool = False,
    scalars: "dict[str, np.ndarray] | None" = None,
    parts: int = 1,
) -> DataFrame:
    """Driver-resident (ids, X) matrix → DataFrame[id long, feat
    array<double>] WITHOUT embedding the data in task binaries.

    `scalars` appends one column per entry after the features, in
    order: a float array becomes a double column, an integer array a
    long column. `parts` splits the rows into that many contiguous
    files. A file is the unit Spark reads in parallel (one row group is
    one task), so the scan, and an eager release's checkpoint, get up
    to `parts` partitions; Spark packs files below its split size
    together, up to one partition per core. Values are written without
    dictionary encoding: continuous doubles rarely repeat, and the
    dictionary pass only costs writer memory.

    `spark.createDataFrame` on a large local matrix ships every
    partition inside its task (12 MB task-size warnings at N=78k,
    F=384; fully pickled rows under a non-Arrow session — and numpy
    float64 elements are REJECTED by the non-Arrow type verifier, the
    round-5 driver regression). Instead the matrix is written once to
    a scratch parquet via pyarrow (zero-copy from the flat buffer) and
    handed to Spark as an ordinary distributed scan: splittable,
    column-pruned, identical under any session config.

    Scratch location: `$SPARK_GRAFT_SCRATCH_DIR` if set, else the
    system temp dir. On a multi-node cluster the scratch dir MUST be
    storage the executors share (HDFS/NFS mount) — so under a
    non-local master with no scratch dir configured the function does
    NOT write a driver-local file the executors couldn't read; it
    takes the pure-python `createDataFrame` path instead (slower, but
    correct under any deployment and any session config). The same
    fallback catches a failed write.

    Disk lifecycle: by default the scratch parquet (up to
    PURE_PYTHON/driver-tier matrix size per call) lives until
    interpreter exit, because the returned frame is a lazy scan Spark
    may re-read at any time. With ``eager_release=True`` the scan is
    materialized once into Spark-managed block storage
    (``localCheckpoint(eager=True)``, MEMORY_AND_DISK — the same
    lineage-cut the distributed diffusion tier already uses) and the
    scratch dir is deleted before returning, so repeated handoffs in a
    long-lived session never accumulate temp disk.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.ascontiguousarray(ids, dtype=np.int64)
    X = np.ascontiguousarray(X, dtype=np.float64)
    n, f = X.shape
    scalars = {c: (np.ascontiguousarray(v, dtype=np.float64)
                   if np.asarray(v).dtype.kind == "f"
                   else np.ascontiguousarray(v, dtype=np.int64))
               for c, v in (scalars or {}).items()}
    schema = ", ".join(
        [f"{id_col} long", f"{feat_col} array<double>"]
        + [f"{c} {'double' if v.dtype.kind == 'f' else 'long'}"
           for c, v in scalars.items()])
    base = os.environ.get("SPARK_GRAFT_SCRATCH_DIR") or None
    master = spark.sparkContext.master
    if base is None and not master.startswith("local"):
        return _pure_python_frame(spark, ids, X, schema, scalars)
    try:
        d = tempfile.mkdtemp(prefix="pyarrowspace-matrix-", dir=base)
        _SCRATCH_DIRS.append(d)
        n_parts = max(1, min(int(parts), n))
        for i in range(n_parts):
            r0, r1 = i * n // n_parts, (i + 1) * n // n_parts
            offsets = pa.array(
                np.arange(0, (r1 - r0 + 1) * f, f, dtype=np.int64),
                type=pa.int64())
            feats = pa.LargeListArray.from_arrays(
                offsets, pa.array(X[r0:r1].reshape(-1), type=pa.float64()))
            tbl = pa.table({id_col: pa.array(ids[r0:r1]), feat_col: feats,
                            **{c: pa.array(v[r0:r1])
                               for c, v in scalars.items()}})
            # ~32k rows/group → plenty of split points for the scan
            pq.write_table(tbl, os.path.join(d, f"part-{i}.parquet"),
                           row_group_size=32768, use_dictionary=False)
            del tbl, feats
        out = spark.read.schema(schema).parquet(d)
        if eager_release:
            out = out.localCheckpoint(eager=True)
            _SCRATCH_DIRS.remove(d)
            shutil.rmtree(d, ignore_errors=True)
        return out
    except Exception:  # pragma: no cover - scratch dir unavailable
        return _pure_python_frame(spark, ids, X, schema, scalars)


# Above this many raw matrix bytes the pure-python fallback would build
# ~5x that in boxed-float driver objects — an OOM, not a slow path.
PURE_PYTHON_MAX_BYTES = 512 * 1024**2


def _pure_python_frame(spark, ids: np.ndarray, X: np.ndarray,
                       schema: str, scalars: dict):
    """Slow-but-portable fallback: rows of builtin floats (accepted by
    any session config, readable under any deployment). Refuses
    matrices whose boxed-object blowup would OOM the driver, with the
    fix in the message."""
    if X.nbytes > PURE_PYTHON_MAX_BYTES:
        raise RuntimeError(
            f"matrix handoff of {X.nbytes >> 20} MiB has no "
            f"executor-readable scratch location; set "
            f"SPARK_GRAFT_SCRATCH_DIR to storage all executors share "
            f"(HDFS/NFS) instead of falling back to "
            f"{X.nbytes * 5 >> 20} MiB of boxed driver rows")
    cols = [v.tolist() for v in scalars.values()]
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row], *(c[r] for c in cols))
         for r, (i, row) in enumerate(zip(ids, X))],
        schema=schema)


def scan_split_info(df: DataFrame) -> "tuple[int, int] | None":
    """(independently-readable splits, total rows) of a LOCAL-parquet-
    backed frame — the split count is the total parquet ROW-GROUP
    count, because a row group is the unit Spark can actually read in
    parallel. `maxPartitionBytes` byte-ranges over a single-row-group
    file all resolve to the one task whose range contains the group's
    start offset, so `rdd.getNumPartitions()` wildly overstates the
    real parallelism there (r13-opt: every driver-testdata file and
    the synth bench corpus were written as ONE row group — task
    quantiles showed 31 tasks at 0.25 s and one at 78 s). None when
    the inputs aren't local parquet files (unknown → trust Spark)."""
    import re

    try:
        files = [re.sub(r"^file:/*", "/", f) if f.startswith("file:")
                 else f for f in df.inputFiles()]
    except Exception:
        return None
    files = [f for f in files if f]
    if not files or not all(os.path.isfile(f) and f.endswith(".parquet")
                            for f in files):
        return None
    try:
        import pyarrow.parquet as pq

        splits = rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            splits += md.num_row_groups
            rows += md.num_rows
        return splits, rows
    except Exception:
        return None


def with_scan_parallelism(df: DataFrame, n_target: int) -> DataFrame:
    """Round-robin repartition a SCAN-BACKED frame whose effective
    read parallelism is below `n_target`. Effective parallelism is
    min(partition count, unsplittable-row-group count); frames whose
    plan already contains an Exchange are left alone (their
    partitioning no longer derives from the file layout). Tiny frames
    (< 64 rows per target partition) are left alone too — the
    exchange would cost more than the skew."""
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    try:
        planned = df._jdf.queryExecution().executedPlan().toString()
        # an Exchange re-balances regardless of file layout; a cached
        # frame inherits whatever layout it was persisted with — the
        # engine's own caches are balanced before persist (builder.py)
        # and re-exchanging a cache would double its footprint
        if "Exchange" in planned or "InMemoryTableScan" in planned:
            return df
    except Exception:
        pass
    info = scan_split_info(df)
    eff = n_parts if info is None else min(n_parts, info[0])
    if eff >= n_target:
        return df
    if info is not None and info[1] < 64 * n_target:
        return df
    return df.repartition(int(n_target))


def laplacian_to_parquet(spark, lf: np.ndarray, path: str) -> None:
    """Save an F×F Laplacian as parquet [row_idx long, row
    array<double>], the twin of `laplacian_from_parquet`: one row per
    matrix row, handed to Spark by `matrix_to_frame` (no F² boxed
    Python floats) and written through Spark, so `path` may be on any
    filesystem Spark writes."""
    matrix_to_frame(spark, np.arange(len(lf)), lf, "row_idx", "row"
                    ).write.mode("overwrite").parquet(path)


def laplacian_from_parquet(spark, path: str) -> np.ndarray:
    """Reopen a saved F×F Laplacian (schema [row_idx long, row
    array<double>]) as a dense float64 matrix via the Arrow columnar
    path — same contract as the Row-collect form but without boxing
    F×F floats through Row objects (house style for every other
    matrix collection; see module docstring)."""
    pdf = spark.read.parquet(path).orderBy("row_idx").toPandas()
    return np.stack(pdf["row"].to_numpy()).astype(np.float64)


def sorted_index(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Precompute (sorted_ids, order) for `positions_of` lookups.

    Raises ValueError on repeated ids: `positions_of` would map every
    copy's edges to one copy and leave the others isolated — a silently
    wrong graph, not an error (the LSH and diffusion-spool contract)."""
    order = np.argsort(ids, kind="stable").astype(np.int64)
    s_ids = ids[order]
    dup = s_ids[1:][s_ids[1:] == s_ids[:-1]]
    if dup.size:
        raise ValueError(
            f"item ids must be unique; {len(np.unique(dup))} ids repeat "
            f"(e.g. {int(dup[0])})")
    return s_ids, order


def positions_of(
    keys: np.ndarray, sorted_ids: np.ndarray, order: np.ndarray
) -> np.ndarray:
    """Row positions of `keys` in the original ids array (vectorized).

    Raises KeyError on any key absent from the ids — without the check
    `searchsorted` silently gathers the wrong row (or IndexErrors only
    past the array end), which would corrupt a future caller's frame
    join invisibly."""
    pos = np.searchsorted(sorted_ids, keys)
    pos_c = np.minimum(pos, len(sorted_ids) - 1)
    if not np.array_equal(sorted_ids[pos_c], keys):
        missing = np.asarray(keys)[(pos >= len(sorted_ids))
                                   | (sorted_ids[pos_c] != keys)]
        raise KeyError(
            f"{missing.size} edge id(s) absent from the items array "
            f"(first few: {missing[:5].tolist()})")
    return order[pos_c]


class DstSegments(NamedTuple):
    """A weighted edge list grouped by destination row: segment i holds
    the edges into row `udst[i]`, at `src[bounds[i]:bounds[i+1]]` with
    weights `w[...]`; `deg` is the weighted in-degree of every row."""

    src: np.ndarray
    w: np.ndarray
    udst: np.ndarray
    bounds: np.ndarray
    deg: np.ndarray


def dst_segments(src: np.ndarray, dst: np.ndarray, w: np.ndarray,
                 n: int) -> DstSegments:
    """Group edges (row positions `src` → `dst`, weights `w`) of an
    n-row output by destination, in (dst, src) order: the order
    `dst_layout` gives a spool partition, so every tier sums a segment
    in one order, whatever the edge frame's row order."""
    order = np.lexsort((src, dst))
    src, dst, w = src[order], dst[order], w[order]
    udst, starts = np.unique(dst, return_index=True)
    deg = np.zeros(n)
    if len(udst):
        deg[udst] = np.add.reduceat(w, starts)
    return DstSegments(src, w, udst, np.append(starts, len(dst)), deg)


def sym_segments(src: np.ndarray, dst: np.ndarray, w: np.ndarray,
                 n: int) -> DstSegments:
    """`dst_segments` of an undirected edge list over both orientations:
    every edge (s, d, w), then every (d, s, w)."""
    return dst_segments(np.concatenate([src, dst]),
                        np.concatenate([dst, src]),
                        np.concatenate([w, w]), n)


def segment_sum(X: np.ndarray, seg: DstSegments) -> np.ndarray:
    """W·X as a per-destination combine: row d of the result is
    Σ w·X[src] over the edges into d (zero for rows with none). The
    result has `len(seg.deg)` rows, the `n` of `dst_segments`, so X
    may be a whole spool while the segments cover one partition's
    destinations.

    E·F flops and one N×F output. Each destination is one BLAS matvec
    w[s:e] @ X[src[s:e]] — measured 24 s per step over 9.4M edges at
    N=313k. The vectorized alternative, np.add.reduceat over a gathered
    E×F chunk, walks each COLUMN of the C-ordered chunk at a 3 KB
    stride — measured 8x slower on the reduction alone, plus an E×F
    buffer the matvec never materializes. A segment longer than X
    (only repeated edges make one) is summed in X-sized slices, so the
    gather transient never exceeds N·F whatever the edge count."""
    out = np.zeros((len(seg.deg), X.shape[1]))
    cap = max(len(X), 1)
    src, w, udst, bounds = seg.src, seg.w, seg.udst, seg.bounds
    for i in range(len(udst)):
        s, e = bounds[i], bounds[i + 1]
        if e - s <= cap:
            out[udst[i]] = w[s:e] @ X[src[s:e]]
        else:
            for c in range(s, e, cap):
                c1 = min(c + cap, e)
                out[udst[i]] += w[c:c1] @ X[src[c:c1]]
    return out


def _openblas_threads():
    """(get, set) of the thread count of the OpenBLAS that numpy's
    wheel bundles, or None where there is none (another BLAS, or a
    numpy built against a system library)."""
    libs = os.path.join(os.path.dirname(np.__file__), os.pardir, "numpy.libs")
    for path in sorted(glob.glob(os.path.join(libs, "lib*openblas*.so*"))):
        lib = ctypes.CDLL(path)
        for name in ("scipy_openblas_%s_num_threads64_",
                     "openblas_%s_num_threads64_", "openblas_%s_num_threads"):
            get = getattr(lib, name % "get", None)
            put = getattr(lib, name % "set", None)
            if get is not None and put is not None:
                return get, put
    return None


class _BlasPin:
    """The process's one-thread pin: how many callers hold it and the
    pool width it restores."""
    api = _openblas_threads()
    lock = threading.Lock()
    depth = 0
    saved = 1


@contextlib.contextmanager
def one_blas_thread():
    """Run the block on one OpenBLAS thread, the count PySpark gives
    its Python workers (OMP_NUM_THREADS = spark.task.cpus): a dgemm
    split over threads rounds some rows differently from a one-thread
    dgemm, so a driver pass on a wider pool would not give the Spark
    pass's values. The pool is shared by the process, so overlapping
    callers pin it once and the last one out restores it. Yields the
    pool's width outside the pin (1 where the BLAS is not found)."""
    pin = _BlasPin
    if pin.api is None:
        yield 1
        return
    get, put = pin.api
    with pin.lock:
        if pin.depth == 0:
            pin.saved = get()
            if pin.saved != 1:
                put(1)
        pin.depth += 1
        width = pin.saved
    try:
        yield width
    finally:
        with pin.lock:
            pin.depth -= 1
            if pin.depth == 0 and pin.saved != 1:
                put(pin.saved)


def both_directions(edges: DataFrame) -> DataFrame:
    """An undirected (src, dst, weight) edge list as both directed
    halves: every edge, then every edge reversed."""
    return edges.select("src", "dst", "weight").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                     "weight"))


def dst_layout(edges: DataFrame, n_parts: int) -> DataFrame:
    """The spool plans' one edge layout: `both_directions`,
    hash-partitioned by dst into `n_parts` (every edge into a
    destination in one partition) and sorted by (dst, src) within each
    partition, the segment order of `dst_segments`."""
    return (both_directions(edges).repartition(n_parts, "dst")
            .sortWithinPartitions("dst", "src"))


def partition_segments(batches, positions
                       ) -> "tuple[np.ndarray, np.ndarray, DstSegments] | None":
    """One `dst_layout` partition as `dst_segments`: its (src, dst,
    weight) batches concatenated (a segment may span Arrow batches),
    ids mapped to spool rows by `positions` (which raises on an id the
    spool lacks) and destinations numbered 0..m−1. Returns (the m
    destination ids, their spool rows, the segments), or None for an
    empty partition."""
    pdfs = [pdf for pdf in batches if len(pdf)]
    if not pdfs:
        return None
    pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
    udst, local = np.unique(pdf["dst"].to_numpy(np.int64),
                            return_inverse=True)
    seg = dst_segments(positions(pdf["src"].to_numpy(np.int64)), local,
                       pdf["weight"].to_numpy(np.float64), len(udst))
    return udst, positions(udst), seg
