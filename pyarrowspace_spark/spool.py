"""Spools: id-sorted matrices on scratch that every executor reads.

The distributed tiers of the feature Laplacian, of diffusion and of the
LSH build shuffle keys, not vectors: each writes its vectors ONCE to an
id-sorted `.npy` file on scratch every executor can read, and its tasks
gather rows from that file through the page cache — the index-join form
of a vertex-relation join (Pregelix). This module is the only one that
knows the spool format; it holds what those plans share:

- the scratch rule (`scratch`, `single_host_master`,
  `probe_worker_visible`, `spill_dir`) and the file modes (`modes`);
- an up-front free-disk check (`check_free`), and `same_device` for
  budgets that write to both the scratch root and the spill dir;
- the spool-dir lifecycle (`make_dir`, `seal`, `drop_dir`), registered
  in `matrix._SCRATCH_DIRS` so a dir no error path reached is still
  removed at interpreter exit, and the moded file helpers (`alloc`,
  `save`);
- ONE writer (`write`): `<name>.npy` plus `sids.npy` from the first
  source that applies — the proven corpus parquet
  (`parquet_scan_source`, streamed by `from_parquet`); else, on
  single-host masters, tasks scatter their rows into a pre-allocated
  spool after one narrow ids job; else, on multi-host masters, a
  task-written parquet copy the driver streams. X is never collected
  on the driver;
- ONE reopen for the kernels that read a spool (`reopen`: the mmap,
  plus its ids through one worker-side cache) and ONE id-coverage
  check (`positions`).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .functions import matrix as matrix_mod


def modes() -> tuple[int, int]:
    """(dir mode, file mode) of a spool. A spool holds corpus vectors,
    so it is group-readable only; deployments whose executors run
    under a different primary group opt into other-read with
    SPARK_GRAFT_SCRATCH_WORLD_READABLE=1."""
    if os.environ.get("SPARK_GRAFT_SCRATCH_WORLD_READABLE", "0") == "1":
        return 0o755, 0o644
    return 0o750, 0o640


def single_host_master(spark) -> bool:
    """True on `local*` masters (local-cluster included): the driver
    and every executor share one filesystem and one page cache, so a
    spool may live in the default temp dir and tasks may write spool
    mmaps directly. On a multi-host master mmap write coherence over a
    shared filesystem is not guaranteed, so spools are built by
    streaming task-written parquet on the driver instead."""
    return spark.sparkContext.master.startswith("local")


def probe_worker_visible(spark, scratch_dir: str) -> bool:
    """True iff executors can read files the driver writes under
    `scratch_dir`: a marker file is written and one task per
    defaultParallelism slot must read it back (a single task could land
    on the one executor that mounts the path). Best effort — task
    placement is the scheduler's. Any failure (unwritable dir, job
    error, any False) means 'not visible'."""
    import uuid

    _, fmode = modes()
    token = uuid.uuid4().hex
    try:
        fd, marker = tempfile.mkstemp(prefix="pyarrowspace-visprobe-",
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


def scratch(spark, op: str) -> "tuple[str, bool]":
    """The one scratch rule of the spool plans: returns (scratch root,
    task_write).

    On a single-host master the root is $SPARK_GRAFT_SCRATCH_DIR, else
    the temp dir, and tasks may write spools directly. On a multi-host
    master the root must be a SPARK_GRAFT_SCRATCH_DIR that every
    executor sees (`probe_worker_visible`); otherwise `op` cannot run
    and a RuntimeError names the variable."""
    scratch_env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    task_write = single_host_master(spark)
    if not task_write and not (
            scratch_env and probe_worker_visible(spark, scratch_env)):
        where = (f"SPARK_GRAFT_SCRATCH_DIR={scratch_env!r} is not "
                 "visible to every executor" if scratch_env else
                 "SPARK_GRAFT_SCRATCH_DIR is not set")
        raise RuntimeError(
            f"{op} needs a scratch directory that the driver and every "
            "executor can read and write (master "
            f"{spark.sparkContext.master!r}); {where}. Point "
            "SPARK_GRAFT_SCRATCH_DIR at a shared filesystem path.")
    return scratch_env or tempfile.gettempdir(), task_write


def spill_dir(spark) -> str:
    """Filesystem where shuffle and spill actually land, for budgets
    that must watch it: $SPARK_GRAFT_SCRATCH_DIR, else the session's
    spark.local.dir (first entry), else the temp dir."""
    p = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if not p:
        try:
            p = spark.conf.get("spark.local.dir")
        except Exception:
            p = None
        p = (p or os.environ.get("SPARK_LOCAL_DIRS")
             or tempfile.gettempdir()).split(",")[0].strip()
    return p if os.path.isdir(p) else "/"


def same_device(a: str, b: str) -> bool:
    """True when paths `a` and `b` live on one filesystem, so a budget
    must sum what it writes to both; True as well when either cannot
    be stat'ed (summing is the conservative answer)."""
    try:
        return os.stat(a).st_dev == os.stat(b).st_dev
    except OSError:
        return True


def check_free(root: str, need: int, op: str, what: str) -> None:
    """Raise RuntimeError, before any spool byte is written, when
    `root` has fewer than `need` bytes free; the message states both
    byte counts, the directory and `what` the need prices."""
    free = shutil.disk_usage(root).free
    if free < need:
        raise RuntimeError(
            f"{op} needs {need} bytes of free scratch ({what}) but only "
            f"{free} bytes are free in {root!r}; point "
            "SPARK_GRAFT_SCRATCH_DIR at a larger filesystem")


def make_dir(root: str, prefix: str) -> str:
    """A fresh spool dir under `root`, registered for exit cleanup."""
    d = tempfile.mkdtemp(prefix=prefix, dir=root)
    matrix_mod._SCRATCH_DIRS.append(d)
    return d


def seal(d: str) -> None:
    """Apply `modes` to spool dir `d` and every file in it:
    `mkdtemp` creates mode 0700, which executors running as another
    user cannot read."""
    dmode, fmode = modes()
    os.chmod(d, dmode)
    for fn in os.listdir(d):
        os.chmod(os.path.join(d, fn), fmode)


def alloc(path: str, shape: "tuple[int, int]",
          dtype=np.float64) -> np.memmap:
    """Pre-allocate the spool `path`, a zero `shape` .npy of `dtype`
    with the spool file mode, and return it as a writable mmap."""
    X = np.lib.format.open_memmap(path, mode="w+", dtype=dtype,
                                  shape=shape)
    os.chmod(path, modes()[1])
    return X


def save(path: str, arr: np.ndarray) -> None:
    """`np.save` `arr` to `path` with the spool file mode."""
    np.save(path, arr)
    os.chmod(path, modes()[1])


def drop_dir(d: str) -> None:
    """Remove spool dir `d` and its registration."""
    shutil.rmtree(d, ignore_errors=True)
    if d in matrix_mod._SCRATCH_DIRS:
        matrix_mod._SCRATCH_DIRS.remove(d)


def part_files(d: str) -> "list[str]":
    """The parquet part files a Spark write left in `d`, in name order."""
    return sorted(glob.glob(os.path.join(d, "part-*.parquet")))


_PLAN_ENTRY_RX = re.compile(
    r"^(\w+)#\d+\w*(?:\s+AS\s+(\w+)#\d+\w*)?$")


def parquet_scan_source(df: DataFrame, id_col: str,
                        feat_col: str) -> dict | None:
    """When `df` is a TRIVIAL local-parquet scan — pure column
    projection (plain attribute references / renames only, no
    expressions, filters, joins, or samples) over one parquet relation
    — return {"files": [...], "id_col": <source name>,
    "feat_col": <source name>}; else None.

    A spool built from these files by `from_parquet` skips the Spark
    collect's JVM serialization pass over all N rows and its ~3×
    driver-memory transient. Conservative by construction: any plan
    node or projection entry the whitelist can't PROVE is a plain
    rename returns None and the caller takes another source."""
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


def from_parquet(files: "list[str]", id_col: str, feat_col: str, n: int,
                 fdim: int, path: str, dtype=np.float64,
                 transform=None) -> "np.ndarray | None":
    """Stream (id, array) parquet `files` into the spool `path`, an
    n×fdim `dtype` .npy in id-SORTED row order, one record batch at a
    time: driver memory holds one batch, never the matrix. `transform`
    maps each batch's n_b×fdim float64 rows before the scatter.

    Returns the sorted ids, or None when the files do not hold `n` rows
    of `fdim` values (or cannot be read as parquet). Raises ValueError
    on duplicate ids: a by-id scatter would hand every copy one row.

    Sorted storage is load-bearing for the readers: a reader whose
    keys arrive sorted walks the mmap monotonically instead of
    random-paging it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        ids = np.concatenate([
            pq.read_table(f, columns=[id_col])[id_col]
            .to_numpy(zero_copy_only=False)
            for f in files]).astype(np.int64, copy=False)
    except (OSError, KeyError, ValueError, pa.ArrowException):
        return None
    if len(ids) != n:
        return None
    s_ids, _ = matrix_mod.sorted_index(ids)
    try:
        X = alloc(path, (n, fdim), dtype)
        total = 0
        for f in files:
            for batch in pq.ParquetFile(f).iter_batches(
                    batch_size=16384, columns=[id_col, feat_col]):
                bids = (batch.column(id_col).to_numpy(zero_copy_only=False)
                        .astype(np.int64, copy=False))
                vals = (batch.column(feat_col).flatten()
                        .to_numpy(zero_copy_only=False))
                if vals.size != len(bids) * fdim:
                    return None  # ragged vectors
                rows = vals.reshape(len(bids), fdim)
                X[np.searchsorted(s_ids, bids)] = (
                    transform(rows) if transform is not None else rows)
                total += len(bids)
        if total != n:
            return None
        X.flush()
        del X
        return s_ids
    except (OSError, KeyError, pa.ArrowException):
        return None


def write(items: DataFrame, id_col: str, feat_col: str, n: int, fdim: int,
          d: str, name: str, op: str, x_source: dict | None = None,
          dtype=np.float64, transform=None,
          id_rows: DataFrame | None = None) -> np.ndarray:
    """THE spool writer: the n×fdim `dtype` spool `d`/`name`.npy in
    id-sorted row order and its sorted ids `d`/sids.npy, from the first
    source that applies:

    1. the proven corpus parquet `x_source` (`parquet_scan_source`),
       streamed by `from_parquet`;
    2. else, on single-host masters, one narrow job collects the ids
       and tasks scatter their rows of `items` into the pre-allocated
       spool (writers and readers share one page cache);
    3. else, on multi-host masters, a parquet copy of `items` the tasks
       write into `d`, streamed by `from_parquet` and then deleted.

    `transform` maps each batch's float64 rows before they are stored,
    on every source. `id_rows`, a frame of `items`' ids under `id_col`
    that the caller needs materialized anyway, is what the scatter's
    ids job reads instead of `items`. Seals `d` and returns the sorted
    ids. Raises ValueError on duplicate ids and RuntimeError, prefixed
    with `op`, when `items` does not read as `n` rows of `fdim`
    values."""
    path = os.path.join(d, f"{name}.npy")
    s_path = os.path.join(d, "sids.npy")
    s_ids = None
    if x_source is not None:
        s_ids = from_parquet(x_source["files"], x_source["id_col"],
                             x_source["feat_col"], n, fdim, path, dtype,
                             transform)
    if s_ids is None and single_host_master(items.sparkSession):
        ids = (items if id_rows is None else id_rows).select(
            id_col).toPandas()[id_col].to_numpy(np.int64)
        if len(ids) == n:
            s_ids, _ = matrix_mod.sorted_index(ids)
            save(s_path, s_ids)
            alloc(path, (n, fdim), dtype)
            # one job: each task's row count comes back as one row
            wrote = items.select(id_col, feat_col).mapInPandas(
                _scatter_kernel(path, s_path, id_col, feat_col, transform),
                "cnt long").toPandas()["cnt"].sum()
            if wrote != n:
                s_ids = None
    elif s_ids is None:
        copy_dir = os.path.join(d, "items")
        items.select(id_col, feat_col).write.parquet(copy_dir)
        s_ids = from_parquet(part_files(copy_dir), id_col, feat_col, n,
                             fdim, path, dtype, transform)
        shutil.rmtree(copy_dir, ignore_errors=True)
    if s_ids is None:
        raise RuntimeError(
            f"{op}: the items frame did not re-read as {n} rows of "
            f"{fdim} features — it is not deterministic")
    save(s_path, s_ids)
    seal(d)
    return s_ids


def _scatter_kernel(path: str, s_path: str, id_col: str, feat_col: str,
                    transform):
    """`write`'s scatter step: a mapInPandas kernel that writes its
    rows of (id, features) into the pre-allocated spool at their
    id-sorted positions and emits only its row count. Single-host
    masters only (no msync is needed: writers and readers share one
    page cache); a retried or speculative task re-writes the same
    bytes, so the scatter is idempotent."""

    def kernel(batches):
        X = np.load(path, mmap_mode="r+")
        s_ids = np.load(s_path)
        wrote = 0
        for pdf in batches:
            if not len(pdf):
                continue
            bids = pdf[id_col].to_numpy(np.int64)
            rows = np.stack(pdf[feat_col].to_numpy()).astype(
                np.float64, copy=False)
            X[positions(s_ids, bids,
                        "spool ids do not cover this partition's rows")] = (
                transform(rows) if transform is not None else rows)
            wrote += len(bids)
        del X
        yield pd.DataFrame({"cnt": np.array([wrote], dtype=np.int64)})

    return kernel


# Worker-side (pid-scoped) cache of the most recently read spool ids: a
# reused Python worker runs a spool kernel for many tasks, and
# re-reading sids.npy per task would re-page ~N·8 B each time. One
# entry only; the next spool evicts it. The spool itself is mapped per
# call: a cached mmap would keep a dropped spool's disk blocks
# allocated in every idle worker until its next spool kernel.
_SIDS: dict = {}


def reopen(path: str, s_path: str) -> "tuple[np.ndarray, np.ndarray]":
    """(read-only mmap of the spool `path`, its sorted ids from
    `s_path`, through the one worker-side cache)."""
    key = (s_path, os.getpid())
    s_ids = _SIDS.get(key)
    if s_ids is None:
        _SIDS.clear()
        s_ids = _SIDS[key] = np.load(s_path)
    return np.load(path, mmap_mode="r"), s_ids


def positions(s_ids: np.ndarray, ids: np.ndarray, what: str) -> np.ndarray:
    """Row positions of `ids` in a spool with sorted ids `s_ids`.
    Raises RuntimeError("`what` — stale spool or corpus mismatch") when
    the spool does not hold every one of them."""
    pos = np.searchsorted(s_ids, ids)
    if len(ids) and (pos.max() >= len(s_ids)
                     or not np.array_equal(s_ids[pos], ids)):
        raise RuntimeError(f"{what} — stale spool or corpus mismatch")
    return pos
