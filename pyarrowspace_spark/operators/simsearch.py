"""Approximate nearest-neighbor search over embedding columns.

Scale path for similarity search (north-star LLM-pipeline operator):

- `ann_cosine_topk` — sign-random-projection LSH: T hash tables of
  B hyperplanes each; a vector's bucket in table t is the sign
  pattern of its projections. Candidates = union over tables of
  same-bucket items (bucket-local shuffle joins — the N×corpus scan
  never happens), then exact cosine rescore + top-k window.
- Hyperplanes are seeded and embedded as plan literals, so the whole
  operator is deterministic and replayable in SQL by the oracle.

Brute-force baseline lives in operators/search.brute_force_cosine_topk.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V

DEFAULT_N_TABLES = 4
DEFAULT_N_PLANES = 8


def lsh_hyperplanes(dim: int, n_tables: int = DEFAULT_N_TABLES,
                    n_planes: int = DEFAULT_N_PLANES,
                    seed: int = 42) -> np.ndarray:
    """Deterministic (n_tables, n_planes, dim) Gaussian hyperplanes."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


# auto_lsh_tables p_bit calibration (measured recall@15 of `search_ann`
# vs exact `search`, 4 tables × 10 planes, Hamming-1 probing, inverted
# through the hit model below): p_bit ≈ 0.816 at N=6,000, 0.838 at
# N=78,580, 0.818 at N=313,841, 0.8162 at N=600,000 — NON-monotone
# sub-calibration noise (~±0.01), so below the anchor we hold the
# conservative anchor value (6 tables at target 0.95, measured ≥0.95
# at 78k and 313k) instead of extrapolating p_bit upward; above it we
# decay p_bit with ln N — the growth direction is the one that
# demonstrably hurts (fixed 4 tables: 0.9387 @78k → 0.8960 @313k →
# 0.8920 @600k).
#
# Slope refit on the four measured points (round 8): the full-range
# LSQ slope is −0.0002/nat — flat within the noise band — and the
# at/beyond-anchor pair (313k→600k) measures +0.0028/nat. The decay
# is kept at 2× that measured beyond-anchor slope (0.006/nat): still
# conservative in direction at every measured point (600k: predicted
# 0.8141 ≤ measured 0.8162, PBIT_600k_r07.json) but no longer the
# original two-point 0.0145 that under-predicted the 600k measurement
# by a full noise band — at N=1M the schedule now stays at 6 tables
# (predicted recall 0.958) instead of over-provisioning a 7th.
# VALIDATED end-to-end at N=1M (BENCH_1M_r08.json): the schedule's 6
# tables measured recall@15 = 0.972 ≥ the 0.95 target — the refit
# decay holds one full doubling beyond its last calibration point.
_PBIT_ANCHOR_N = 313_841.0
_PBIT_ANCHOR = 0.818
_PBIT_PER_NAT = 0.006


def auto_lsh_tables(n_planes: int, target_recall: float = 0.95,
                    n_items: int | None = None,
                    p_bit: float | None = None,
                    max_tables: int = 32) -> int:
    """Recall-targeted table count for sign-LSH top-k search — the
    query-side twin of the graph build's `auto_lsh_bands` rule: a
    FIXED table count silently decays as corpora grow (measured
    recall@15 at 4 tables x 10 planes with Hamming-1 probing: 0.9387
    at N=78,580 → 0.8960 at N=313,841).

    Pass `n_items` so the schedule scales: p_bit — the chance a true
    neighbor agrees with the query on one sign bit — was a FIXED 0.82
    calibrated at N=313k, so the function returned the same 6 tables
    at every corpus size and the target was only honored up to the
    calibration point (ADVICE r5). Now p_bit holds the conservative
    anchor below N=313k (measured p_bit is flat-with-noise there, see
    module constants — an early upward extrapolation granted 4 tables
    at N=6k and measured 0.89 recall, under target) and decays
    linearly in ln N beyond it, clamped to [0.55, 0.95]; an explicitly
    passed `p_bit` (e.g. a fresh measurement on the actual corpus)
    overrides the model.

    Hit model: with Hamming-1 probing a table hits when ≥ bits-1 bits
    agree, p1 = p^b + b·p^(b-1)·(1-p); tables are independent, so
    tables ≥ ln(1-target) / ln(1-p1). At b=10, target 0.95, N=313k
    this gives 6 tables (predicted ≈ 0.97, measured 0.9773) for 1.5x
    the probe cost — preferred over Hamming-2 probing, whose 56-probe
    fanout costs ~5x for the same target. `max_tables` caps the
    schedule so a pessimal extrapolation degrades gracefully instead
    of exploding the hash/candidate cost.
    """
    b = int(n_planes)
    if p_bit is not None:
        p = float(p_bit)
    elif n_items is not None and n_items > 0:
        nats_above = max(0.0, float(np.log(float(n_items) / _PBIT_ANCHOR_N)))
        p = float(np.clip(_PBIT_ANCHOR - _PBIT_PER_NAT * nats_above,
                          0.55, 0.95))
    else:
        # no corpus-size information: the 313k calibration point —
        # guaranteed only up to that scale
        p = _PBIT_ANCHOR
    p1 = p ** b + b * p ** (b - 1) * (1.0 - p)
    if not (0.0 < p1 < 1.0):
        return DEFAULT_N_TABLES
    need = np.log(max(1.0 - float(target_recall), 1e-12)) / np.log(1.0 - p1)
    return int(min(int(max_tables),
                   max(DEFAULT_N_TABLES, int(np.ceil(need)))))


def planes_fingerprint(planes: np.ndarray) -> int:
    """Stable 62-bit identity of a hyperplane set (shape + values).

    Used to stamp bucket columns so pre-hashed frames can be verified
    against the caller's planes — a bucket join under MISMATCHED planes
    silently returns near-empty/wrong candidates instead of erroring.
    """
    import hashlib

    arr = np.ascontiguousarray(np.asarray(planes, dtype=np.float64))
    h = hashlib.sha256()
    h.update(str(arr.shape).encode())
    h.update(arr.tobytes())
    return int.from_bytes(h.digest()[:8], "big") % (2 ** 62)


def _bucket_expr(feat_col: str, table_planes: np.ndarray):
    """Bucket id = Σ_j [dot(v, h_j) > 0]·2^j as a JVM-side expression.

    Sequential `aggregate` fold — the same arithmetic the SQL oracle
    runs. (A flat element_at multiply-add chain was tried and is NOT
    faster: 2048 expression nodes exceed janino's method limits, codegen
    fails, and the interpreted fallback is ~7× slower.)"""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(table_planes):
        h = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(V.dot(F.col(feat_col), h) > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_bucket_codes(X: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, T) int64 bucket codes of float64 rows: ONE gemm against all
    T×B hyperplanes; bit b of table t is set when x·h_tb > 0."""
    n_tables, n_planes, dim = planes.shape
    signs = (X @ planes.reshape(n_tables * n_planes, dim).T) > 0
    return (signs.reshape(len(X), n_tables, n_planes)
            * (2 ** np.arange(n_planes)).astype(np.int64)).sum(axis=2)


def with_lsh_buckets(df: DataFrame, planes: np.ndarray,
                     feat_col: str = "features") -> DataFrame:
    """Append `bucket_0..bucket_{T-1}` via ONE Arrow-batched gemm
    against all T×B hyperplanes (vs 32 interpreted HOF dot folds per
    row — ~4× the whole ANN query's cost).

    Oracle compatibility: the SQL twin derives buckets with the
    sequential fold of `_bucket_expr`. gemm and fold agree on every
    sign unless a projection lies within float-summation noise
    (~1e-13) of zero; measured margins on the driver corpora are
    ≥1e-5, and `tests` pin gemm==fold equality. Seeded planes keep the
    whole operator deterministic."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    n_tables = planes.shape[0]
    spark = df.sparkSession
    b_planes = spark.sparkContext.broadcast(planes)
    # Stamp the plane-set fingerprint into the bucket_0 schema metadata:
    # consumers reusing pre-hashed buckets (search_ann's hash-once path)
    # can verify the buckets came from THESE planes without a Spark job.
    # Schema metadata survives parquet/bucketed-table round trips.
    fp_meta = {"planes_fp": planes_fingerprint(planes)}
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(f"bucket_{t}", LongType(), False, fp_meta)
           for t in range(n_tables)]
    )

    def add_buckets(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[feat_col].to_numpy()).astype(np.float64)
            buckets = lsh_bucket_codes(X, b_planes.value)
            out = pdf.copy()
            for t in range(n_tables):
                out[f"bucket_{t}"] = buckets[:, t]
            yield out

    return df.mapInPandas(add_buckets, schema=out_schema)


def lsh_bucketed(df: DataFrame, planes: np.ndarray,
                 feat_col: str = "features") -> DataFrame:
    """`df` with bucket_0..bucket_{T-1} under `planes`.

    Hash-once contract: a corpus pre-bucketed at index time (one
    persisted `with_lsh_buckets` pass) is reused, so a search call
    touches no corpus-wide hashing pass; ad-hoc frames are hashed here.
    Reuse is VALIDATED: the frame must carry exactly T bucket columns,
    and when the bucketing pass stamped a planes fingerprint (schema
    metadata — free to read, survives parquet), it must match `planes`:
    buckets under mismatched planes silently select near-empty wrong
    candidates instead of erroring."""
    if "bucket_0" not in df.columns:
        return with_lsh_buckets(df, planes, feat_col)
    have = sorted(c for c in df.columns if c.startswith("bucket_"))
    want = sorted(f"bucket_{t}" for t in range(planes.shape[0]))
    if have != want:
        raise ValueError(
            f"index carries pre-hashed columns {have} but planes "
            f"define {len(want)} tables ({want}); re-bucket the "
            f"index with these planes or drop the bucket_* columns")
    stamped = (df.schema["bucket_0"].metadata or {}).get("planes_fp")
    if stamped is not None and int(stamped) != planes_fingerprint(planes):
        raise ValueError(
            "index bucket_* columns were hashed with a DIFFERENT "
            "hyperplane set than the one passed to search_ann "
            "(planes fingerprint mismatch); re-bucket the index "
            "with these planes or pass the original planes")
    return df


def with_lsh_buckets_sql(df: DataFrame, planes: np.ndarray,
                         feat_col: str = "features") -> DataFrame:
    """Pure-expression formulation (the arithmetic the SQL oracle
    replays); kept as the parity reference for `with_lsh_buckets`."""
    fp_meta = {"planes_fp": planes_fingerprint(planes)}
    for t in range(planes.shape[0]):
        name = f"bucket_{t}"
        df = df.withColumn(
            name, _bucket_expr(feat_col, planes[t]).alias(name,
                                                          metadata=fp_meta))
    return df


def ann_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    planes: np.ndarray,
    id_col: str = "item_id",
    feat_col: str = "features",
    query_id_col: str = "query_id",
    probe_hamming1: bool = False,
) -> DataFrame:
    """Approximate cosine top-k: bucket-join candidates, exact rescore.

    Returns DataFrame[query_id, item_id, score, rank] with rank over
    the candidate set only (recall < 1 by design; brute force is the
    oracle for recall measurement).

    ``probe_hamming1`` enables multi-probe on the QUERY side (Lv et al.
    2007, public method, simplified to the full Hamming-1 neighborhood):
    each query additionally probes every bucket one sign-flip away, a
    (1+n_planes)× fan-out of the tiny broadcast query side only — the
    corpus is still hashed once and never re-scanned. Recall rises
    steeply (a near-miss neighbor differs in exactly one marginal bit
    far more often than in two) for candidate-set growth ≪ adding
    tables, and the probe list is a deterministic XOR enumeration the
    SQL oracle replays bit-for-bit.
    """
    n_tables = planes.shape[0]
    n_planes = planes.shape[1]
    # (table, bucket) pairs via ONE corpus pass + posexplode; the query
    # side is tiny → broadcast, so the whole candidate generation is a
    # single broadcast hash join with zero corpus shuffle (the per-table
    # join-then-union formulation re-scanned the corpus n_tables times).
    # Norms precomputed once per item/query BEFORE the table fan-out,
    # and scoring moved BEFORE the dedupe (guide §2.3): duplicate
    # (query, item) hits score identically, so groupBy/max over narrow
    # (query_id, item_id, score) rows replaces a dropDuplicates whose
    # shuffle carried both full F-double vectors per candidate.
    # cosine = dot/(qn·xn) is the same expression tree
    # cosine_similarity builds — same operand order, bit-identical.
    it = with_lsh_buckets(
        items.select(F.col(id_col), F.col(feat_col)), planes, feat_col
    ).withColumn("_xn", V.l2_norm(feat_col)).select(
        id_col, feat_col, "_xn",
        F.posexplode(F.array(*[f"bucket_{t}" for t in range(n_tables)]))
        .alias("t", "bucket"),
    )
    qu = with_lsh_buckets(
        queries.select(F.col(query_id_col),
                       F.col(feat_col).alias("q_features")),
        planes, "q_features",
    ).withColumn("_qn", V.l2_norm("q_features")).select(
        query_id_col, "q_features", "_qn",
        F.posexplode(F.array(*[f"bucket_{t}" for t in range(n_tables)]))
        .alias("t", "bucket"),
    )
    if probe_hamming1:
        qu = qu.select(
            query_id_col, "q_features", "_qn", "t",
            F.explode(F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
                  for j in range(n_planes)],
            )).alias("bucket"),
        )
    scored = (
        it.join(F.broadcast(qu), ["t", "bucket"])
        .select(
            query_id_col, id_col,
            (V.dot("q_features", feat_col)
             / (F.col("_qn") * F.col("_xn"))).alias("score"),
        )
        .groupBy(query_id_col, id_col).agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def lloyd_kmeans(X: np.ndarray, k: int, seed: int = 42,
                 iters: int = 20,
                 init: np.ndarray | None = None) -> np.ndarray:
    """Deterministic seeded Lloyd's k-means (numpy). Init = seeded
    row sample (or the explicit `init` centers, e.g. the ±split_tau
    children of a dispersion split); empty clusters keep their previous
    centroid. Shared by the IVF quantizer, the energy optical-token
    compressor, AND the oracle-SQL generator so every engine uses
    bit-identical centroids."""
    if init is not None:
        C = np.array(init, dtype=np.float64, copy=True)
    else:
        rng = np.random.RandomState(seed)
        C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    # gemm distance form ||x||^2 - 2 x.c + ||c||^2: the naive
    # broadcasted (N,k,F) difference tensor is N*k*F*8 bytes PER
    # ITERATION (12 GB at the 100k-row training cap, k=40, F=384 —
    # measured as a 15+ min driver stall in the 313k energy build);
    # the gemm runs the same argmin in BLAS with an (N,k) scratch.
    x2 = (X * X).sum(axis=1)[:, None]
    for _ in range(iters):
        d2 = x2 - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        order = np.argsort(assign, kind="stable")
        js, starts = np.unique(assign[order], return_index=True)
        sums = np.add.reduceat(X[order], starts, axis=0)
        counts = np.diff(np.append(starts, len(order)))
        C[js] = sums / counts[:, None]  # absent j: keep previous centroid
    return C


def deterministic_cap(df: DataFrame, id_col: str, max_rows: int,
                      seed: int = 42,
                      n_rows: int | None = None) -> DataFrame:
    """Cap a DataFrame at `max_rows` rows, deterministically across
    partitionings: a row-wise xxhash64 filter (no partition-seeded
    `sample`, whose picks shift with the physical split) thins to
    ~1.2×max_rows, then orderBy(id).limit — a total order, so any two
    reads of the same data agree row-for-row. One narrow pass + a
    top-K-style limit; no full sort materialization at scale (Spark
    runs orderBy+limit as TakeOrdered)."""
    n = df.count() if n_rows is None else int(n_rows)
    if n <= max_rows:
        return df
    thinned = df.filter(cap_filter(id_col, max_rows, n, seed))
    return thinned.orderBy(id_col).limit(int(max_rows))


def cap_filter(id_col: str, max_rows: int, n: int, seed: int = 42):
    """`deterministic_cap`'s thinning predicate for an n-row frame:
    keeps ~1.2×max_rows rows by pmod(xxhash64(id, seed), 2²⁰)."""
    denom = 1 << 20
    num = max(1, min(denom, int(denom * 1.2 * max_rows / n)))
    return (F.pmod(F.xxhash64(F.col(id_col), F.lit(int(seed))),
                   F.lit(denom)) < F.lit(num))


def ivf_centroids(items: DataFrame, n_centroids: int, seed: int = 42,
                  id_col: str = "item_id",
                  feat_col: str = "features",
                  max_train: int = 100_000,
                  n_rows: int | None = None) -> np.ndarray:
    """IVF coarse quantizer: deterministic Lloyd's on a driver-side
    training matrix (broadcastable). Corpora above `max_train` train on
    a deterministic hash-capped subset (`deterministic_cap`) — same
    centroids for any partitioning of the same data, unlike the old
    `sample().limit()` which picked partition-order-arbitrary rows.
    `n_rows` skips the count job when the caller already knows it.
    Collection uses the Arrow columnar path (functions/matrix)."""
    from ..functions.matrix import collect_id_matrix

    df = deterministic_cap(items.select(id_col, feat_col), id_col,
                           max_train, seed=seed, n_rows=n_rows)
    ids, X = collect_id_matrix(df.orderBy(id_col), id_col, feat_col)
    return lloyd_kmeans(X, n_centroids, seed=seed)


def nearest_cells(X: np.ndarray, C: np.ndarray,
                  n_probe: int = 1) -> np.ndarray:
    """(rows of X) × n_probe positions of the nearest rows of C (L2),
    nearest first. The gemm distance form ||x||² − 2·x·c + ||c||² is
    the formula the DuckDB oracle evaluates and the fix lloyd_kmeans
    got in round 5: the naive broadcasted (batch, k, F) difference
    tensor is ~1.2 GB of transient per 10k-row batch at k=40, F=384
    (×32 concurrent tasks ≈ 39 GB, linear in k); this runs the same
    argmin in BLAS with a (batch, k) scratch. The sort is stable, so FP
    ties resolve to the lower position, as the oracle's
    ORDER BY d2 ASC, cell ASC does."""
    d2 = ((X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T)
          + (C * C).sum(axis=1)[None, :])
    return np.argsort(d2, axis=1, kind="stable")[:, :int(n_probe)]


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               feat_col: str = "features",
               out_col: str = "cell", n_probe: int = 1) -> DataFrame:
    """Assign each row to its `n_probe` nearest centroid cells
    (L2, `nearest_cells`), vectorized with a broadcast centroid matrix.

    The cells column is a Python UDF's output. A filter Spark infers
    over it (`size(cells) > 0` under a plain `explode`, `isnotnull` on
    a join key taken from it) is pushed below the projection and
    evaluates the UDF a second time. Read it with `explode_outer`,
    which no inferred filter passes, or from a persisted frame."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    spark = df.sparkSession
    b_c = spark.sparkContext.broadcast(centroids)
    np_probe = int(n_probe)

    # no type hints: `from __future__ import annotations` stringifies
    # them, which the pandas_udf signature parser rejects
    @F.pandas_udf(ArrayType(IntegerType()))
    def cells(feats):
        idx = nearest_cells(np.stack(feats.to_numpy()), b_c.value,
                            np_probe)
        return pd.Series([row.tolist() for row in idx])

    return df.withColumn(out_col, cells(F.col(feat_col)))


def ivf_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: np.ndarray,
    n_probe: int = 2,
    id_col: str = "item_id",
    feat_col: str = "features",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN: items live in 1 cell, queries probe n_probe cells;
    exact cosine rescore within probed cells."""
    # Same shuffle-narrowing as ann_cosine_topk: norms once per side,
    # score before the dedupe, groupBy/max over narrow rows (duplicate
    # probe hits score identically, so max == the single value).
    it = ivf_assign(items.select(id_col, feat_col), centroids,
                    feat_col, "cells", n_probe=1)
    it = it.withColumn("_xn", V.l2_norm(feat_col)).select(
        id_col, feat_col, "_xn", F.explode_outer("cells").alias("cell"))
    qu = ivf_assign(
        queries.select(query_id_col, F.col(feat_col).alias("q_features")),
        centroids, "q_features", "cells", n_probe=n_probe,
    ).withColumn("_qn", V.l2_norm("q_features")).select(
        query_id_col, "q_features", "_qn",
        F.explode_outer("cells").alias("cell"))
    scored = (
        qu.join(it, "cell")
        .select(
            query_id_col, id_col,
            (V.dot("q_features", feat_col)
             / (F.col("_qn") * F.col("_xn"))).alias("score"),
        )
        .groupBy(query_id_col, id_col).agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )
