"""kNN similarity self-join — the core of the λτ-graph build.

Reference semantics (GRAPH_VARIABLES.md:7-10): for each item, keep
candidate neighbors with rectified-cosine distance d <= eps, cap at the
k smallest per node, symmetrize, then weight w = 1/(1+(d/sigma)^p).

Two physical strategies, one logical contract:

- ``exact``: broadcast corpus + partition-local BLAS scan with a
  per-node top-k. O(N^2) — correct at any N but only *sized* for N up
  to ~10^5. This is the correctness path used by tests; the DuckDB
  oracle is the SQL reference.
- ``lsh``: sign-random-projection band LSH. Items are hashed into
  ``n_bands`` buckets of ``n_bits`` sign bits each (one broadcast
  gemm), candidates are generated ONLY within each (band, bucket)
  group by a partition-local Arrow gemm, then deduped and re-ranked
  by the same eps/top-k contract. The shuffle carries narrow
  (band, key, id) rows; each bucket gathers its unit vectors from one
  id-sorted float32 spool on scratch every executor can read.
  Candidate generation is bucket-local, never all-pairs, and nothing
  N-sized ever touches the driver.

  (An earlier revision used MLlib's BucketedRandomProjectionLSH;
  its approxSimilarityJoin OR-amplifies single-projection buckets,
  which on real embedding corpora collides nearly all pairs — the
  candidate set degenerates to O(N^2) rows. The band construction
  keeps the collision probability of non-neighbors at ~2^-n_bits
  per band, which is what makes the bucket join sub-quadratic.)

``strategy='auto'`` switches on a row-count threshold.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import warnings

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import spool
from ..params import GraphParams
from ..functions import vector as V
from ..functions.matrix import both_directions, census

#: Scratch-disk spill multiplier for one band group: the group's
#: (band,key) shuffle sorts N·gsize rows; measured peak transient over
#: shuffle-input bytes was ~2.3x at N=800k and ~3.9x at the N=2M abort
#: (BENCH_800k_r10g.json / BENCH_2000k_r10.json, zstd codec), so the
#: default budgets the worst observed.
LSH_SPILL_FACTOR = 4.0
#: Exchange bytes per hashed (band int, key long, id long) row: 20 B of
#: values plus row framing. The group budget and `lsh_plan` price it.
LSH_ROW_BYTES = 28
#: Estimated (band, key) exchange bytes above which the bands run in
#: sequential groups (N·bands·LSH_ROW_BYTES per group at most). At
#: 8 GiB every corpus up to a few million rows runs one group.
LSH_GROUP_BYTES = 8 << 30
#: Free-disk floor the grouped build must never plan into — same 15 GB
#: margin the measurement watchdog enforces (a spill burst writes
#: ~200 MB/s across 32 tasks; a thinner floor loses the race). Env
#: override: SPARK_GRAFT_LSH_MIN_FREE (suffix-aware).
LSH_MIN_FREE_BYTES = 15 << 30
#: Measured parquet bytes per emitted candidate pair in a group spool
#: (zstd long,long,double): 0.144 GB/band at N=800k, k=25 ⇒ ~7.2 B
#: (BENCH_800k_r10g.json); 7.5 keeps the a-priori estimate on the
#: conservative side until the loop's own measurements replace it.
LSH_PAIR_SPOOL_BYTES = 7.5
#: Oversized-bucket census rows above which the driver collect is
#: skipped and the census stays a lazy distributed plan (re-run per
#: band group — the documented degenerate-corpus tradeoff). The bound
#: on census size is N·bands/LSH_BUCKET_MAX keys; 65536 rows ≈ 1.5 MB
#: on the driver covers every non-adversarial corpus to ~10^10 rows.
LSH_CENSUS_COLLECT_MAX = 65536


def _normalize_f32(X) -> np.ndarray:
    """EXACTLY the unit-normalization the hash pass applies (float32
    stack → float32 norms → divide): the spool and the per-batch
    worker path must produce bit-identical U so keys and distances
    are unchanged by WHERE the vector came from."""
    X32 = np.asarray(X, dtype=np.float32)
    norms = np.linalg.norm(X32, axis=1)
    norms[norms == 0.0] = 1.0
    return X32 / norms[:, None]


def _in_ball_topk(dist: np.ndarray, bad: np.ndarray,
                  k_i: int) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """The eps-ball selection the exact scan and the LSH buckets share:
    over an m×n distance block whose columns are in ascending id order,
    the (row, column, dist) triples outside the `bad` mask, row-major,
    and with `k_i` only each row's k smallest by (dist, column), in
    that order — the reference tie-break lexsort((dst, dist)) without
    a per-row Python loop or a sort of whole rows. `bad` must hold
    `~(dist <= eps)`, so a NaN distance stays out."""
    keep = ~bad
    capped = bool(k_i) and dist.shape[1] > k_i
    if capped:
        # at most the k-th smallest in-ball distance: k candidates a
        # row, more only on a tie at the k-th
        kth = np.partition(np.where(bad, np.inf, dist), k_i - 1,
                           axis=1)[:, k_i - 1:k_i]
        keep &= dist <= kth
    rows, cols = np.nonzero(keep)
    dv = dist[rows, cols]
    if capped:
        order = np.lexsort((cols, dv, rows))
        rows, cols, dv = rows[order], cols[order], dv[order]
        first = np.arange(len(rows)) - np.searchsorted(rows, rows) < k_i
        rows, cols, dv = rows[first], cols[first], dv[first]
    return rows, cols, dv


def _bucket_pairs(ids: np.ndarray, U: np.ndarray, eps_f: float,
                  k_i: int) -> "list[tuple]":
    """One bucket's in-ball pairs as (src, dst, dist) array triples:
    the intra-bucket rectified-cosine distances by gemm, then
    `_in_ball_topk`. `ids` must be ascending (the rows of `U`, in
    order)."""
    n = len(ids)
    out = []
    # Chunk rows so the chunk×n distance block stays bounded even in a
    # pathologically skewed bucket.
    chunk = int(max(64, min(1024, (64 << 20) // (n * 16))))
    for c0 in range(0, n, chunk):
        Uc = U[c0:c0 + chunk]
        m = len(Uc)
        cos = Uc @ U.T
        dist = 1.0 - np.maximum(cos.astype(np.float64), 0.0)
        # invalid = outside the eps ball, or the self-pair
        bad = ~(dist <= eps_f) | (ids[None, :] == ids[c0:c0 + m, None])
        rows, cols, dv = _in_ball_topk(dist, bad, k_i)
        out.append((ids[c0 + rows], ids[cols], dv))
    return out


def _make_bucket_kernel(u_paths: "tuple[str, str]", keys: "list[str]",
                        eps_f: float, k_i: int):
    """The LSH pair stage's one partition-wide mapInPandas kernel over
    (`keys`…, id) rows sorted by (`keys`, id) within each partition: it
    finds the bucket boundaries with numpy, gathers each batch's unit
    vectors from the U spool in one read and runs `_bucket_pairs` per
    bucket. A bucket cut by an Arrow batch boundary is carried into the
    next batch; a bucket holds at most LSH_BUCKET_MAX rows (larger ones
    run as block pairs), so the carry stays bounded."""
    import pandas as pd

    def emit(Usp, s_l, g: np.ndarray, ids: np.ndarray):
        U = np.asarray(Usp[spool.positions(
            s_l, ids, "LSH U-spool does not cover this bucket's ids")])
        cuts = np.flatnonzero(np.any(g[1:] != g[:-1], axis=1)) + 1
        bounds = np.concatenate([[0], cuts, [len(ids)]])
        out = [t for s, e in zip(bounds[:-1], bounds[1:]) if e - s > 1
               for t in _bucket_pairs(ids[s:e], U[s:e], eps_f, k_i)
               if t[0].size]
        if out:
            return pd.DataFrame({
                c: np.concatenate([t[i] for t in out])
                for i, c in enumerate(("src", "dst", "dist"))})
        return None

    def kernel(batches):
        Usp, s_l = spool.reopen(*u_paths)
        held_g = np.empty((0, len(keys)), dtype=np.int64)
        held_i = np.empty(0, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            g = np.concatenate([held_g, np.stack(
                [pdf[c].to_numpy(dtype=np.int64) for c in keys], axis=1)])
            ids = np.concatenate([held_i, pdf["id"].to_numpy(dtype=np.int64)])
            # the last bucket may continue in the next batch
            last = np.flatnonzero(np.any(g != g[-1], axis=1))
            cut = int(last[-1]) + 1 if len(last) else 0
            held_g, held_i = g[cut:], ids[cut:]
            if cut:
                out = emit(Usp, s_l, g[:cut], ids[:cut])
                if out is not None:
                    yield out
        if len(held_i):
            out = emit(Usp, s_l, held_g, held_i)
            if out is not None:
                yield out

    return kernel


def _dir_bytes(path: str) -> int:
    """Recursive regular-file byte total (a flat listdir under-counted
    partitioned/_temporary subtrees — ADVICE r10)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def _completed_stages(spark, watermark: int = -1):
    """Yield (stage id, py4j `status.api.v1.StageData`) for completed
    stages above `watermark`, newest first, from the JVM status store.
    These are the records the UI's REST endpoint serves, without its
    cost — a session's first REST request starts the UI's servlet
    (1.7 s) — and the store is there with spark.ui.enabled=false too.
    Yields nothing more on any error: instrumentation only, never
    load-bearing."""
    try:
        sc = spark.sparkContext
        statuses = sc._jvm.java.util.ArrayList()
        statuses.add(sc._jvm.org.apache.spark.status.api.v1
                     .StageStatus.COMPLETE)
        stages = sc._jsc.sc().statusStore().stageList(
            statuses, False, False,
            sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList())
        # listed by descending (stageId, attemptId): stop at the
        # watermark instead of reading every stage of the session
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            sid = int(st.stageId())
            if sid <= watermark:
                return
            yield sid, st
    except Exception:
        return


def _max_stage_id(spark) -> int:
    return next(_completed_stages(spark), (-1, None))[0]


def _stages_since(spark, watermark: int) -> list[dict]:
    """Compact per-stage metrics for stages completed after
    `watermark` — the data that localizes where a band group's wall
    time and scratch disk actually go (sort spill vs shuffle write vs
    parquet output), per the round-10 2M postmortem. Empty on any
    error."""
    def _gb(nbytes) -> float:
        return round(nbytes / 2**30, 3)

    out = []
    try:
        for sid, st in _completed_stages(spark, watermark):
            try:
                wall = round((st.completionTime().get().getTime()
                              - st.submissionTime().get().getTime())
                             / 1e3, 2)
            except Exception:
                wall = None
            out.append({
                "sid": sid,
                # keep the TAIL: Spark stage names end in file:line
                # ("collect at .../lambda_index.py:167") — a head-
                # truncation dropped exactly the locator the metrics
                # exist to record
                "name": str(st.name())[-72:],
                "num_tasks": int(st.numTasks()),
                "wall_sec": wall,
                "task_sec": round(st.executorRunTime() / 1e3, 1),
                "disk_spill_gb": _gb(st.diskBytesSpilled()),
                "mem_spill_gb": _gb(st.memoryBytesSpilled()),
                "shuffle_write_gb": _gb(st.shuffleWriteBytes()),
                "shuffle_read_gb": _gb(st.shuffleReadBytes()),
                "input_gb": _gb(st.inputBytes()),
                "output_gb": _gb(st.outputBytes()),
            })
    except Exception:
        return []
    return sorted(out, key=lambda r: r["sid"])

# Above this many items the exact all-pairs join is no longer the plan
# you'd want on a cluster; switch to LSH candidate generation.
EXACT_PATH_MAX_ROWS = 20_000


def _knn_directed_broadcast_scan(
    items: DataFrame,
    id_col: str,
    feat_col: str,
    eps: float,
    k: int,
) -> DataFrame:
    """Directed kNN candidates via broadcast corpus + partition-local
    numpy scan.

    Each partition multiplies its rows against the id-sorted broadcast
    corpus matrix (one BLAS gemm per Arrow batch) and applies the eps
    predicate and the per-row k-smallest cap by `_in_ball_topk`, the
    LSH buckets' selection (ties broken by dst asc, matching the SQL
    window `ORDER BY dist ASC, dst ASC`); it emits at most k rows per
    item — the N^2 candidate space never hits the shuffle. Raises
    ValueError on duplicate ids.

    Scale contract: corpus matrix must fit in executor memory
    (N x F x 8B; ~1 GB at N=314k, F=384 — the reference's own ceiling).
    Beyond that, `strategy='lsh'` is the path.
    """
    import pandas as pd

    from ..functions.matrix import collect_id_matrix, sorted_index

    spark = items.sparkSession
    ids, X = collect_id_matrix(items, id_col, feat_col)
    # id-sorted columns make `_in_ball_topk`'s column tie-break the
    # lower dst; a repeated id raises ValueError
    ids, order = sorted_index(ids)
    X = X[order]
    norms = np.linalg.norm(X, axis=1)
    b_ids = spark.sparkContext.broadcast(ids)
    b_X = spark.sparkContext.broadcast(X)
    b_norms = spark.sparkContext.broadcast(norms)
    eps_f, k_i = float(eps), int(k)

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    schema = StructType([
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("dist", DoubleType(), False),
    ])

    def scan(batches):
        ids_all, X_all, n_all = b_ids.value, b_X.value, b_norms.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q_full = np.stack(pdf[feat_col].to_numpy()).astype(np.float64)
            qids_full = pdf[id_col].to_numpy(dtype=np.int64)
            # Chunk the query rows so the R×N distance block stays
            # bounded (~256×N doubles ≈ 160 MB at N=78k) — Arrow hands
            # us up to 10k rows per batch, and 10k×N would be gigabytes.
            for c0 in range(0, len(qids_full), 256):
                Q = Q_full[c0:c0 + 256]
                qids = qids_full[c0:c0 + 256]
                qn = np.linalg.norm(Q, axis=1)
                cos = (Q @ X_all.T) / np.outer(qn, n_all)
                dist = 1.0 - np.maximum(cos, 0.0)
                bad = ~(dist <= eps_f) | (ids_all[None, :] == qids[:, None])
                rows, cols, dv = _in_ball_topk(dist, bad, k_i)
                if len(rows):
                    yield pd.DataFrame({"src": qids[rows],
                                        "dst": ids_all[cols], "dist": dv})

    # Spread the gemm across cores: a single-file (or single-ROW-GROUP
    # — see matrix.scan_split_info) parquet scan arrives effectively
    # as ONE task, which would serialize the whole N×N scan on one
    # Python worker.
    from ..functions.matrix import with_scan_parallelism

    target = min(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        max(1, len(ids) // 256),
    )
    src = with_scan_parallelism(items.select(id_col, feat_col), target)
    return src.mapInPandas(scan, schema=schema)


#: Design point for the auto-bands rule: effective per-bit collision
#: factor measured on the synthetic CVE-shaped corpus at N=78,580
#: (recall 0.9772 with bits=8 bands=16 ⇒ f_eff = 0.21^(1/8) ≈ 0.823;
#: the same model predicts the OBSERVED 0.914 recall at N=313,841 with
#: bits=10 bands=16 — the round-4 anchor run that motivated the rule).
LSH_DESIGN_COLLISION = 0.82
#: −ln(target miss probability): 3.0 ⇒ ≥95% recall design target.
LSH_MISS_BUDGET = 3.0
#: Buckets above this row count are split into block-pair tasks
#: (skew guard): task cost is bounded at (2·max)²·F flops ≈ 25 s.
LSH_BUCKET_MAX = 8192


def auto_lsh_bands(n_bits: int) -> int:
    """Bands needed to hold the ≥0.95 recall contract at a given band
    width: miss = (1 − f^bits)^bands ≤ e^−budget. Bands grow ~linearly
    in bits (≈ log N), so total LSH work is N·log N at fixed recall —
    the correct asymptotic; a fixed band count silently degrades recall
    as the corpus grows (observed: 0.977 @ 78k → 0.914 @ 313k).

    The budget is the constant LSH_MISS_BUDGET, which the `lsh_plan`
    oracle twin embeds. Measured recall holds the contract at every
    anchor, thinnest at 800k (0.954, 12 bits: log2(800k/256) rounds up
    hardest). A build wanting more margin passes its band count,
    `ArrowSpaceBuilder.build(lsh_bands=37)` (the schedule at a 3.5
    budget: recall 0.9768 at 800k for ≈ +19% build cost,
    BENCH_800k_r13mb35.json)."""
    p = LSH_DESIGN_COLLISION ** int(n_bits)
    return max(16, int(math.ceil(
        LSH_MISS_BUDGET / -math.log(max(1.0 - p, 1e-12)))))


def _band_group_size(n_items: int, n_bands: int,
                     budget: int | None = None) -> int:
    """Bands per sequential group: enough groups that each group's
    estimated (band, key) exchange, N·bands·LSH_ROW_BYTES, fits the
    group budget (LSH_GROUP_BYTES by default)."""
    budget = LSH_GROUP_BYTES if budget is None else int(budget)
    est_bytes = n_items * n_bands * LSH_ROW_BYTES
    n_groups = int(min(n_bands, max(1, -(-est_bytes // budget))))
    return -(-n_bands // n_groups)


def lsh_plan(n_items: int, fdim: int, k: int,
             group_budget_bytes: int | None = None) -> dict:
    """The LSH physical plan the build would run on THIS corpus shape
    on a healthy disk — pure arithmetic over (N, k) and the group
    budget, the `diffuse_plan` pattern. Returns the auto bit width and
    band count, the band-group count, and the projected per-band
    (band, key) exchange bytes and per-group (k-capped) pair-spool
    bytes. The hashed rows are narrow, so `fdim` does not enter the
    exchange price. The MEASURED per-run record (spool bytes, stage
    metrics, wall) is the `info` dict `knn_edges` fills
    (`ArrowSpaceIndex.lsh_build_info`); this is the deterministic twin
    the DuckDB oracle replays."""
    n_bits = int(min(20, max(6, round(math.log2(max(n_items / 256, 2))))))
    n_bands = auto_lsh_bands(n_bits)
    gsize = _band_group_size(n_items, n_bands, group_budget_bytes)
    return {
        "n_bits": n_bits,
        "n_bands": n_bands,
        "n_band_groups": -(-n_bands // gsize),
        "band_shuffle_bytes": n_items * LSH_ROW_BYTES,
        "spool_group_bytes": n_items * max(int(k), 1) * LSH_PAIR_SPOOL_BYTES,
    }


def _group_summary(groups: list) -> dict:
    """The measured record of one LSH pair stage from its per-group
    records: group count, total/max pair-spool bytes, total wall
    seconds, peak per-stage shuffle-write/spill GB and the records
    themselves as ``groups``."""
    stages = [s for g in groups for s in g["stages"]]
    spools = [g["spool_bytes"] for g in groups]
    return {
        "n_groups": len(groups),
        "bands_total": sum(len(g["bands"]) for g in groups),
        "spool_bytes_total": sum(spools),
        "spool_bytes_max_group": max(spools),
        "wall_sec_total": round(sum(g["sec"] for g in groups), 1),
        **{f"peak_stage_{k}": max((s[k] for s in stages), default=0.0)
           for k in ("shuffle_write_gb", "disk_spill_gb")},
        "groups": groups,
    }


def pairwise_candidates_lsh(
    items: DataFrame,
    id_col: str,
    feat_col: str,
    eps: float,
    k: int | None = None,
    n_bits: int | None = None,
    n_bands: int | None = None,
    seed: int = 42,
    shape: "tuple[int, int] | None" = None,
    bucket_max: int | None = None,
    x_source: dict | None = None,
    info: dict | None = None,
) -> DataFrame:
    """Bucketed candidate pairs within the cosine eps-ball via
    sign-random-projection band LSH.

    One plan: the index-join form of a vertex-relation join (as in
    Pregelix) — keys are shuffled, payloads are gathered. Nothing
    N-sized is materialized on the driver.

      1. The unit vectors are written ONCE to an id-sorted float32
         spool on scratch every executor can read, by `spool.write`:
         streamed from the corpus parquet when `x_source` proves a
         trivial scan, else scattered by the tasks on single-host
         masters, else streamed from a task-written parquet copy on
         multi-host ones. Nothing N-sized is collected on the driver;
         each row is normalized by `_normalize_f32`, so U is
         bit-identical to the hash pass's.
      2. ONE Arrow pass per partition gemms the unit-normalized batch
         against a broadcast F×(bands·bits) Gaussian matrix, packs each
         band's sign bits into an int64 key and emits ``n_bands``
         narrow (band, key, id) rows per item. The table is persisted:
         the bucket-size census and every band group read it.
      3. Per band group, shuffle on (band, key) and sort each
         partition by (band, key, id); ONE partition-wide kernel
         (`_make_bucket_kernel`) cuts the sorted rows into buckets,
         gathers their unit vectors from the spool, computes the
         intra-bucket rectified-cosine distances by gemm, applies the
         eps predicate and (if ``k``) caps emission at the k smallest
         per src — lossless for downstream top-k, since any neighbor
         crowded out of a bucket's top-k is also outside the global
         top-k. With ``k`` the group's pairs are deduped and capped at
         each src's k nearest; they are written to a parquet pair
         spool.
      4. With one group and ``k``, its spool is the answer. Otherwise
         the spools' union is deduped by groupBy(src,dst) min(dist)
         (map-side combinable) and, with ``k``, capped again at each
         src's k nearest.

    Contract: every returned (src, dst) is unique with dist ≤ eps. With
    ``k``, each src has its ≤k nearest candidates by (dist, dst) — the
    kNN graph's directed top-k, which `knn_edges` only symmetrizes.
    With ``k=None`` every in-ball candidate pair is returned, uncapped
    (the dedup path).

    Collision probability for a pair at angle θ is (1-θ/π)^n_bits per
    band; non-neighbors (θ≈π/2) collide at ~2^-n_bits, so candidate
    count stays ~N·bands·bucket_size, never O(N²). ``n_bits`` defaults
    to log2(N/256) clamped to [6, 20] — buckets of a few hundred rows
    keep the per-bucket gemm cache-friendly while preserving recall.

    Unit vectors are float32 (the hash pass and the spool apply the
    same `_normalize_f32`): the distance error (~1e-7 relative) is far
    below any eps/ranking decision and the path is approximate by
    contract (recall ≥ 0.95, SURVEY §7.3 #2).

    `info`: pass a dict to get the pair stage's `_group_summary`.

    `shape`: the (N, F) `matrix.census` of `items`; run here if None.

    An empty `items` frame yields no pairs. Raises ValueError on
    duplicate ids; RuntimeError when a multi-host master has no
    worker-visible SPARK_GRAFT_SCRATCH_DIR, or the scratch disk cannot
    hold the projected build (checked before any spool byte is
    written). On any failure the U spool, this build's pair spools and
    the hash cache are released.
    """
    import pandas as pd
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StructField, StructType)

    from ..functions.matrix import parse_size_bytes, with_scan_parallelism

    spark = items.sparkSession
    pair_schema = StructType([
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("dist", DoubleType(), False),
    ])
    n_items, fdim = (shape if shape is not None
                     else census(items, feat_col=feat_col, id_col=id_col)[:2])
    if n_items == 0:
        return spark.createDataFrame([], pair_schema)
    if n_bits is None:
        n_bits = int(min(20, max(6, round(math.log2(max(n_items / 256, 2))))))
    if n_bands is None:
        n_bands = auto_lsh_bands(n_bits)
    nb, bits = int(n_bands), int(n_bits)
    eps_f = float(eps)
    k_i = int(k) if k is not None else 0
    b_max = int(bucket_max if bucket_max is not None else LSH_BUCKET_MAX)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    op = "knn_edges: the LSH build"
    scratch_root, task_write = spool.scratch(spark, op)

    # Scratch-disk budget. Each band's (band, key) exchange carries N
    # narrow rows and its sort spills up to LSH_SPILL_FACTOR times that.
    # Above LSH_GROUP_BYTES the bands run in SEQUENTIAL groups: each
    # group's k-capped pairs are spooled to parquet and its shuffle
    # files are GC'd before the next group runs, so peak scratch
    # divides by the group count while the pair union is
    # band-order-invariant — the output is IDENTICAL (pinned by
    # tests/test_lsh_recall.py). The up-front projection prices what
    # the build writes — the U spool (N·F·4), the parquet copy
    # `spool.write` streams it from on a multi-host master with no
    # proven corpus scan (N·F·8), the final group's shuffle and every
    # group's pair spool — and REFUSES
    # the build before any of it is written when it cannot fit above
    # the free-disk floor: a clear arithmetic error beats a watchdog
    # abort 90 minutes in (the r10 2M failure). Each byte is priced on
    # the disk it lands on: shuffle and spill on `spool.spill_dir`, the
    # U spool, its parquet copy and the pair spools under the scratch
    # root; one disk holding both carries the sum.
    gsize = _band_group_size(n_items, nb)
    probe = spool.spill_dir(spark)
    same_disk = spool.same_device(probe, scratch_root)
    band_bytes = n_items * LSH_ROW_BYTES
    # Spool projection UNIT: per GROUP when the per-src k-cap runs
    # (the cap bounds a group's spool at N·k rows REGARDLESS of how
    # many bands the group carries), per band otherwise (uncapped
    # emission really is ~N·k per band). VERDICT r11 finding 3.
    spool_unit = n_items * (k_i if k_i else 64) * LSH_PAIR_SPOOL_BYTES
    n_units_end = -(-nb // gsize) if k_i else nb
    u_bytes = n_items * fdim * (4 if x_source or task_write else 12)
    spill = LSH_SPILL_FACTOR
    floor_b = parse_size_bytes(
        os.environ.get("SPARK_GRAFT_LSH_MIN_FREE", str(LSH_MIN_FREE_BYTES)),
        default=LSH_MIN_FREE_BYTES)
    shuffle_b = band_bytes * spill

    def _disks(shuffle: float, spooled: float) -> "list[tuple]":
        """(dir, free bytes, bytes it must hold incl. the floor) per
        disk, for `shuffle` shuffle/spill bytes and `spooled` bytes."""
        if same_disk:
            return [(probe, shutil.disk_usage(probe).free,
                     shuffle + spooled + floor_b)]
        return [(probe, shutil.disk_usage(probe).free, shuffle + floor_b),
                (scratch_root, shutil.disk_usage(scratch_root).free,
                 spooled + floor_b)]

    for where, free0, need_end in _disks(
            shuffle_b, n_units_end * spool_unit + u_bytes):
        if free0 < need_end:
            raise RuntimeError(
                f"LSH grouped build refused up front: scratch "
                f"'{where}' has {free0 / 2**30:.1f} GB free but the "
                f"build is projected to need {need_end / 2**30:.1f} GB "
                f"there, of: {n_units_end} "
                f"{'k-capped groups' if k_i else 'bands'} x "
                f"{spool_unit / 2**30:.2f} GB pair spool + "
                f"{u_bytes / 2**30:.2f} GB unit-vector spool (under "
                f"'{scratch_root}') + {band_bytes / 2**30:.2f} GB/band "
                f"shuffle x {spill:.1f} spill (on '{probe}') + "
                f"{floor_b / 2**30:.0f} GB floor per disk. Free disk, "
                f"lower k, point SPARK_GRAFT_SCRATCH_DIR at a larger "
                f"filesystem, or lower the SPARK_GRAFT_LSH_MIN_FREE "
                f"floor consciously.")
    # Residual mid-loop risk the up-front check can't cover (ADVICE
    # r12): under disk pressure the adaptive loop can fragment into up
    # to nb 1-band groups — each spooling up to N·k rows. A build
    # accepted here can therefore still stop mid-loop with a clean
    # RuntimeError (never a corrupt result); warn when even the
    # worst-case fragmentation would not fit, so the operator can free
    # disk BEFORE the long job, not after its 60th group.
    short = [d for d in _disks(shuffle_b, nb * spool_unit + u_bytes)
             if d[1] < d[2]]
    if k_i and short:
        where, free0, worst_end = short[0]
        warnings.warn(
            f"LSH grouped build accepted at the expected "
            f"{-(-nb // gsize)}-group plan, but worst-case "
            f"fragmentation ({nb} 1-band groups under disk "
            f"pressure) projects {worst_end / 2**30:.1f} GB "
            f"vs {free0 / 2**30:.1f} GB free on '{where}' — the build "
            f"may stop mid-loop with a clean RuntimeError if the "
            f"disk tightens.", UserWarning, stacklevel=2)

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((fdim, nb * bits)).astype(np.float32)
    b_planes = spark.sparkContext.broadcast(planes)
    weights = (1 << np.arange(bits, dtype=np.int64))
    hash_schema = StructType([
        StructField("band", IntegerType(), False),
        StructField("key", LongType(), False),
        StructField("id", LongType(), False),
    ])

    def hash_bands(batches):
        R = b_planes.value
        bands = np.arange(nb, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            U = _normalize_f32(
                np.stack(pdf[feat_col].to_numpy()).astype(np.float32))
            signs = (U @ R) >= 0.0                      # B × (nb·bits)
            keys = signs.reshape(len(U), nb, bits).astype(np.int64) @ weights
            yield pd.DataFrame({
                "band": np.repeat(bands, len(U)),
                "key": keys.T.ravel(),
                "id": np.tile(pdf[id_col].to_numpy(dtype=np.int64), nb),
            })

    # Spread the hash gemm across all cores: a single-file corpus
    # arrives split only by maxPartitionBytes (a 0.9 GB parquet at
    # N=313k → 8 scan tasks feeding 32 cores; BENCH_313k_r11.json). One
    # N·F corpus repartition where it engages (single-file corpora
    # ≲1M rows) costs seconds; beyond that the scan already yields
    # ≥ cores splits and this is a no-op.
    hash_src = with_scan_parallelism(items.select(id_col, feat_col), n_parts)

    u_dir = spool.make_dir(scratch_root, "pyarrowspace-lshu-")
    u_paths = (os.path.join(u_dir, "u.npy"), os.path.join(u_dir, "sids.npy"))

    def _bucket_stage(rows: DataFrame, keys: "list[str]") -> DataFrame:
        # Explicit exchange on the bucket keys feeding ONE partition-wide
        # kernel over rows sorted by (keys, id): the narrow hash rows
        # compress to tens of MB, and AQE's advisory coalescing
        # collapsed an implicit exchange to 5 partitions at the 78k
        # bench (27 cores idle); a user-specified repartition is not
        # coalescible.
        return (rows.repartition(n_parts, *keys)
                .sortWithinPartitions(*keys, "id")
                .mapInPandas(_make_bucket_kernel(u_paths, keys, eps_f, k_i),
                             schema=pair_schema))

    def _group_pairs(src_frame: DataFrame,
                     oversized: "DataFrame | None") -> DataFrame:
        if oversized is None:
            return _bucket_stage(src_frame, ["band", "key"])
        h2 = src_frame.join(F.broadcast(oversized), ["band", "key"], "left")
        normal = h2.filter(F.col("_cnt").isNull()).drop("_cnt")
        big = h2.filter(F.col("_cnt").isNotNull())
        nblocks = F.ceil(F.col("_cnt") / F.lit(b_max)).cast("int")
        myblock = F.pmod(F.xxhash64("id"), nblocks).cast("int")
        blocks = (
            big.withColumn("_b", myblock)
            .withColumn(
                "_bp",
                F.explode(F.transform(
                    F.sequence(F.lit(0), nblocks - F.lit(1)),
                    lambda j: F.struct(
                        F.least(F.col("_b"), j).alias("b1"),
                        F.greatest(F.col("_b"), j).alias("b2"),
                    ),
                )),
            )
            .select("band", "key", F.col("_bp.b1").alias("b1"),
                    F.col("_bp.b2").alias("b2"), "id"))
        return _bucket_stage(normal, ["band", "key"]).unionAll(
            _bucket_stage(blocks, ["band", "key", "b1", "b2"]))

    def _top_k(pairs: DataFrame) -> DataFrame:
        # Dedupe across bands (min() is a no-op on value — the distance
        # is the same pair function in every band — but makes the agg
        # map-side combinable), then, with k, each src's k nearest by
        # (dist, dst). ONE explicit exchange on src feeds both the agg
        # (hash(src) satisfies the (src, dst) clustering) and the
        # window, and, being user-specified, AQE cannot coalesce it
        # onto a handful of tasks.
        out = (pairs.repartition(n_parts, "src")
               .groupBy("src", "dst").agg(F.min("dist").alias("dist")))
        if not k_i:
            return out
        wg = Window.partitionBy("src").orderBy(
            F.col("dist").asc(), F.col("dst").asc())
        return (out.withColumn("_rn", F.row_number().over(wg))
                .filter(F.col("_rn") <= F.lit(k_i)).drop("_rn"))

    pair_dirs: list[str] = []
    parts: list[DataFrame] = []
    hashed = None
    groups: list[dict] = []  # this build's per-group records
    try:
        # ~28 B/row: the corpus is hashed exactly ONCE per build
        hashed = hash_src.mapInPandas(hash_bands,
                                      schema=hash_schema).persist()
        # a task scatter reads its ids from the hash table's first band,
        # so that one job also materializes the hash cache
        spool.write(items, id_col, feat_col, n_items, fdim, u_dir, "u", op,
                    x_source, np.float32, _normalize_f32,
                    id_rows=hashed.filter(F.col("band") == 0).select(
                        F.col("id").alias(id_col)))
        # Skew guard: a degenerate corpus (mass-duplicate vectors — common
        # in the dedup-adjacent corpora this engine targets) can land one
        # giant bucket on ONE task; the chunked gemm bounds memory but not
        # task time (O(bucket²)). Buckets above b_max are split into
        # hash-assigned blocks and processed as block-PAIR tasks of
        # ≤2·b_max rows each: every pair still meets in exactly the
        # (min,max) block task, and the per-row k-cap stays lossless per
        # task (a neighbor crowded out by k closer rows in its task is
        # outside the global top-k a fortiori). The size census counts the
        # persisted hash table (map-side combined).
        sizes = hashed.groupBy("band", "key").agg(F.count("*").alias("_cnt"))
        # Collect the census ONCE and re-broadcast it as a local frame:
        # `oversized` is joined inside every band group, so as a lazy plan
        # the census shuffle re-ran per group (ADVICE r9). The result is
        # tiny (only keys with >b_max members; empty on a non-degenerate
        # corpus). The collect is capped (ADVICE r10): a mass-duplicate
        # corpus can produce up to N·bands/b_max oversized keys, so above
        # LSH_CENSUS_COLLECT_MAX rows the census stays a lazy distributed
        # plan — per-group census re-runs beat an unbounded driver
        # materialization there.
        ov_lazy = sizes.filter(F.col("_cnt") > F.lit(b_max))
        ov_head = ov_lazy.limit(LSH_CENSUS_COLLECT_MAX + 1).collect()
        if len(ov_head) > LSH_CENSUS_COLLECT_MAX:
            oversized = ov_lazy
        elif ov_head:
            # from pandas, so Arrow ships it: a frame of Python rows
            # starts a PythonRDD and a plain Python worker
            oversized = spark.createDataFrame(pd.DataFrame({
                c: [int(r[c]) for r in ov_head]
                for c in ("band", "key", "_cnt")}),
                schema="band int, key long, _cnt long")
        else:
            # every bucket is normal: no join, no block-pair exchange
            oversized = None

        # Pair spools are PARQUET, not an eager Spark checkpoint: at N=1M
        # one group's pre-dedupe pairs are ~125M rows, and the
        # checkpoint's MEMORY_AND_DISK unroll OOM'd a 16 GB heap. The
        # distributed parquet write streams to disk with bounded task
        # memory, and reading it back is a clean scan with NO lineage to
        # the group's shuffle, so the GC below reclaims the shuffle files.
        #
        # ADAPTIVE group sizing against the MEASURED disk: reading the
        # real free space before EVERY group charges base usage and
        # accumulated spools automatically; the live group then only
        # needs its own shuffle·spill + its spool to fit above the
        # floor. The a-priori spool estimate is replaced by the measured
        # mean as groups finish. LSH_GROUP_BYTES stays a CAP on group
        # size.
        bands_left = list(range(nb))
        while bands_left:
            # the live group's spool is one k-capped unit no matter how
            # many bands it takes; uncapped, it scales with the bands
            # as the shuffle does. A disk's need is linear in the
            # group's band count b, need(0) + b·(need(1) − need(0)); the
            # tighter disk sets the group.
            fixed_s, band_s = ((spool_unit, 0.0) if k_i
                               else (0.0, spool_unit))
            max_bands, where, free, band_need = min(
                (int((free - need0) // max(need1 - need0, 1)), where,
                 free, need1)
                for (where, free, need0), (_, _, need1) in zip(
                    _disks(0.0, fixed_s),
                    _disks(shuffle_b, fixed_s + band_s)))
            if max_bands < 1:
                done = nb - len(bands_left)
                raise RuntimeError(
                    f"LSH grouped build out of scratch disk after "
                    f"{done}/{nb} bands: {free / 2**30:.1f} GB free "
                    f"on '{where}' < 1-band need "
                    f"{band_need / 2**30:.1f} GB.")
            gband = bands_left[:min(gsize, max_bands)]
            del bands_left[:len(gband)]
            g_t0 = time.time()
            sid0 = _max_stage_id(spark)
            # a group is a filter over the persisted hash table: no
            # per-group corpus re-hash
            pairs_g = _group_pairs(hashed.filter(
                F.col("band").isin([int(b) for b in gband])), oversized)
            if k_i:
                # Per-src k-cap + dedupe BEFORE spooling: lossless for the
                # global top-k (a pair crowded out by k closer same-src
                # pairs in its group is outside the global top-k a
                # fortiori — the bucket-cap argument one level up), and it
                # bounds each group's spool at N·k rows regardless of band
                # count.
                pairs_g = _top_k(pairs_g)
            d = spool.make_dir(scratch_root, "pyarrowspace-lshpairs-")
            pair_dirs.append(d)
            pairs_g.write.mode("overwrite").parquet(d)
            parts.append(spark.read.parquet(d))
            try:
                groups.append(
                    {"bands": gband, "spool_bytes": int(_dir_bytes(d)),
                     "disk_free_bytes": int(shutil.disk_usage(probe).free),
                     "sec": round(time.time() - g_t0, 1),
                     "stages": _stages_since(spark, sid0)})
                # replace the a-priori spool estimate with the measured
                # mean — per GROUP under the k-cap (the unit the projection
                # charges), per band otherwise — so the remaining groups
                # (and the out-of-disk check) use ground truth
                if k_i:
                    meas = [g["spool_bytes"] for g in groups]
                else:
                    meas = [g["spool_bytes"] / max(len(g["bands"]), 1)
                            for g in groups]
                spool_unit = max(sum(meas) / len(meas), 1.0)
            except OSError:
                pass
            spark.sparkContext._jvm.System.gc()
    except BaseException:
        if hashed is not None:
            hashed.unpersist()
        for d in [u_dir, *pair_dirs]:
            spool.drop_dir(d)
        raise
    # every group's pairs are spooled parquet now — the hash cache and
    # the U spool are dead; release both deterministically instead of
    # at session exit
    hashed.unpersist()
    spool.drop_dir(u_dir)
    if info is not None and groups:
        info.update(_group_summary(groups))
    if k_i and len(parts) == 1:
        # one group's spool is already deduped and k-capped per src
        return parts[0]
    bucket_pairs = parts[0]
    for p in parts[1:]:
        bucket_pairs = bucket_pairs.unionAll(p)
    return _top_k(bucket_pairs)


def knn_edges(
    items: DataFrame,
    params: GraphParams,
    id_col: str = "item_id",
    feat_col: str = "features",
    strategy: str = "auto",
    lsh_bits: int | None = None,
    lsh_bands: int | None = None,
    shape: "tuple[int, int] | None" = None,
    x_source: dict | None = None,
    info: dict | None = None,
) -> DataFrame:
    """Build the symmetrized, weighted kNN edge list.

    Returns DataFrame[src, dst, dist, weight] with src < dst
    (canonical undirected edges, one row per edge).

    Pipeline (all reference-pinned):
      eps filter (GRAPH_VARIABLES.md:7) -> per-node k-smallest heap
      == row_number window (GRAPH_VARIABLES.md:8) -> symmetrize ->
      kernel weight (GRAPH_VARIABLES.md:9).

    `shape`: pass the (N, F) census of `items` (`matrix.census`,
    which the builders run first) to skip this call's own, an extra
    eager Spark job that also checks the input contract.

    `info`: pass a dict and an LSH build fills it with its pair
    stage's measured record (`_group_summary`), complete on return as
    the stage runs eagerly; an exact build leaves it empty.
    """
    if shape is None:
        shape = census(items, feat_col=feat_col, id_col=id_col)[:2]
    if strategy == "auto":
        strategy = "exact" if shape[0] <= EXACT_PATH_MAX_ROWS else "lsh"
    if strategy == "exact":
        # eps + per-node top-k already applied partition-locally.
        knn = _knn_directed_broadcast_scan(
            items, id_col, feat_col, params.eps, params.k
        )
    elif strategy == "lsh":
        # eps and each src's top-k by (dist, dst) already applied
        knn = pairwise_candidates_lsh(
            items, id_col, feat_col, params.eps, k=params.k,
            n_bits=lsh_bits, n_bands=lsh_bands, shape=shape,
            x_source=x_source, info=info,
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    # Symmetrize: undirected edge survives if EITHER direction kept it.
    # Canonicalize to src < dst and dedupe (dist is symmetric).
    canon = knn.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "dist",
    ).groupBy("src", "dst").agg(F.min("dist").alias("dist"))

    return canon.withColumn(
        "weight", V.kernel_weight("dist", params.sigma, params.p)
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node weighted degree from the canonical undirected edge list.

    This is the diagonal of L = D - W (reference GRAPH_VARIABLES.md:8,
    TAUMODE.md:26). Map-side partial aggregation makes this one cheap
    shuffle at any scale. Returns DataFrame[node, degree].
    """
    return both_directions(edges).groupBy(F.col("src").alias("node")).agg(
        F.sum("weight").alias("degree"))


def sparsity(edges: DataFrame, n_items: int) -> float:
    """1 - nnz/N^2 over the symmetric adjacency (reference
    with_sparsity_check, src/lib.rs:286)."""
    nnz = edges.count() * 2  # canonical edges stored once
    return 1.0 - nnz / float(n_items * n_items)
