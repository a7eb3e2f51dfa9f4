"""Feature Laplacian L_F = Xᵀ(D−W)X on both tiers, and the neighbour
combine the driver tier shares with driver-tier diffusion
(`matrix.segment_sum`): the dense-numpy pin, the O(N·F) memory
contracts of L_F and of the X collect, the duplicate-id contract on
both tiers, driver diffusion pinned to its per-destination matvec loop
bit for bit, the spool tier pinned to the driver tier, and the spool
tier's contracts (scratch rule, disk budget, cleanup, worker
visibility) and sources (`spool.parquet_scan_source`,
`spool.from_parquet`, `spool.modes`, the scatter and the parquet copy
of `spool.write`, which never collects X),
a build reusing saved edges, and the one input contract
(`matrix.census`) on every build path."""

import os
import shutil
import tracemalloc
from collections import namedtuple

import numpy as np
import pytest

from pyspark.sql import functions as F

from pyarrowspace_spark import ArrowSpaceBuilder, spool
from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.operators import lambda_index as L
from pyarrowspace_spark.params import EnergyParams, GraphParams
from pyarrowspace_spark.sources.loaders import items_from_embeddings

from .test_lsh_recall import SF_DIR
from .test_energy import _corpus

EDGE_SCHEMA = "src long, dst long, weight double"
# the tiny test0 corpus's graph and energy params
GP_T0 = GraphParams(eps=0.9, k=4, topk=5, p=2.0)
EP_T0 = EnergyParams(optical_tokens=3, eta=0.05, steps=2, trim_quantile=0.1)


def _matrix(n, f, seed):
    rng = np.random.default_rng(seed)
    # non-contiguous ids in a shuffled order: positions come from the
    # id lookup, not from the ids themselves
    ids = rng.permutation(n).astype(np.int64) * 7 + 100
    return ids, rng.standard_normal((n, f))


def _items(spark, ids, X):
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in zip(ids, X)],
        schema="item_id long, features array<double>")


def _id_sorted(ids, X):
    p = np.argsort(ids)
    return ids[p], np.ascontiguousarray(X[p])


def _dense_lf(ids, X, edges):
    """Xᵀ(D−W)X with W the dense symmetric adjacency of `edges`."""
    pos = {int(i): k for k, i in enumerate(ids)}
    W = np.zeros((len(ids), len(ids)))
    for s, d, w in edges:
        W[pos[s], pos[d]] += w
        W[pos[d], pos[s]] += w
    return X.T @ ((np.diag(W.sum(axis=1)) - W) @ X)


def _graph(ids, case, seed=3):
    rng = np.random.default_rng(seed)
    if case == "empty":
        return []
    # the first five ids stay isolated
    live = ids[5:]
    edges = [(int(live[a]), int(live[b]), float(rng.uniform(0.1, 1.0)))
             for a, b in rng.integers(0, len(live), (60, 2)) if a != b]
    if case == "self_loop":
        edges.append((int(live[0]), int(live[0]), 0.7))
    elif case == "repeated_edge":
        edges += [edges[0], edges[1], edges[0]]
    return edges


@pytest.mark.parametrize("case", ["isolated", "self_loop",
                                  "repeated_edge", "empty"])
# one value since the collect is X's only source
# (`matrix.collect_graph`); kept so the test ids stay `[collect-…]`
@pytest.mark.parametrize("x_input", ["collect"])
def test_driver_laplacian_matches_dense(spark, case, x_input):
    """Pin: the driver tier equals a dense numpy Xᵀ(D−W)X at rtol 1e-12,
    on isolated nodes, a self-loop, a repeated edge and no edges at all."""
    ids, X = _matrix(40, 12, seed=11)
    edges = _graph(ids, case)
    lf = L.feature_laplacian(
        _items(spark, ids, X), spark.createDataFrame(edges, EDGE_SCHEMA),
        X.shape[1])
    ref = _dense_lf(ids, X, edges)
    np.testing.assert_allclose(lf, ref, rtol=1e-12,
                               atol=1e-12 * np.abs(ref).max())
    assert np.array_equal(lf, lf.T)
    if case == "empty":
        assert not lf.any()


@pytest.mark.parametrize("x_input", ["collect"])  # as above
def test_driver_laplacian_memory_is_o_nf(spark, x_input):
    """Contract: the driver tier's peak traced allocation stays within
    its price, `matrix.driver_price` (4·N·F·8 bytes plus 384 bytes per
    edge), whatever the edge count — the
    edge-side form held three E×F float64 temporaries (3·E·F·8 bytes,
    38× X on the benchmark graph)."""
    n, f = 200, 96
    ids, X = _matrix(n, f, seed=5)
    items = _items(spark, ids, X).persist()
    items.count()
    rng = np.random.default_rng(6)
    for n_edges in (400, 8000):
        src, dst = rng.integers(0, n, (2, n_edges))
        edges = spark.createDataFrame(
            [(int(ids[s]), int(ids[d]), float(w)) for s, d, w in
             zip(src, dst, rng.uniform(0.1, 1.0, n_edges))],
            EDGE_SCHEMA).persist()
        edges.count()
        tracemalloc.start()
        try:
            L.feature_laplacian(items, edges, f)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        bound = M.driver_price(n, f, n_edges) + (1 << 20)
        assert peak <= bound, (n_edges, peak, bound)
        edges.unpersist()
    items.unpersist()


def test_collect_id_matrix_holds_x_once(spark):
    """Contract: collecting X keeps one N×F float64 copy beyond the
    pandas frame's rows. The collect used to copy the stacked matrix
    once more (`astype` without copy=False), a peak near 2·N·F·8."""
    n, f = 2000, 192
    ids, X = _matrix(n, f, seed=7)
    items = _items(spark, ids, X).persist()
    items.count()
    M.collect_id_matrix(items, "item_id", "features")  # warm the path
    tracemalloc.start()
    try:
        got_ids, got = M.collect_id_matrix(items, "item_id", "features")
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    items.unpersist()
    assert got.dtype == np.float64
    assert np.array_equal(got[np.argsort(got_ids)], X[np.argsort(ids)])
    assert peak <= 1.5 * n * f * 8, (peak, n * f * 8)


def _dup_rows(n=60, f=16, seed=4):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((3, f))[rng.integers(0, 3, n)]
    X += 0.1 * rng.standard_normal((n, f))
    ids = list(range(n)) + [7]
    X = np.vstack([X, -X[7]])
    return ids, X


def test_exact_build_rejects_duplicate_ids(spark):
    """Contract: a repeated id in an exact-strategy build raises with
    the count and an example id — it used to build, with every edge of
    both copies mapped to the first copy's row."""
    ids, X = _dup_rows()
    with pytest.raises(ValueError, match=r"unique; 1 ids repeat \(e\.g\. 7\)"):
        ArrowSpaceBuilder.build(
            _items(spark, np.asarray(ids), X),
            GraphParams(eps=0.9, k=6, topk=6, p=2.0), strategy="exact")


def test_driver_diffusion_rejects_duplicate_ids(spark):
    """Contract: the diffusion driver tier raises on a repeated id, as
    its spool tier does."""
    ids, X = _dup_rows()
    edges = spark.createDataFrame([(1, 2, 0.5), (7, 3, 0.4)], EDGE_SCHEMA)
    with pytest.raises(ValueError, match=r"unique; 1 ids repeat \(e\.g\. 7\)"):
        E._diffuse_driver(_items(spark, np.asarray(ids), X), edges, 0.05,
                          2, "item_id", "features")


def test_driver_diffusion_equals_matvec_loop(spark):
    """Pin: driver diffusion through `segment_sum` equals, with ==, a
    per-destination matvec loop over the edges in (dst, src) order, on
    sf0.001."""
    from pyarrowspace_spark.operators import knn as K

    items = items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features").persist()
    edges = K.knn_edges(items, GraphParams(eps=0.9, k=10, topk=5, p=2.0),
                        strategy="exact").persist()
    eta, steps = 0.05, 3
    out = E._diffuse_driver(items, edges, eta, steps, "item_id",
                            "features").toPandas().sort_values("item_id")
    ids, X = _id_sorted(*M.collect_id_matrix(items, "item_id", "features"))
    epdf = M.both_directions(edges).toPandas()
    sids, order = M.sorted_index(ids)
    src = M.positions_of(epdf["src"].to_numpy(np.int64), sids, order)
    dst = M.positions_of(epdf["dst"].to_numpy(np.int64), sids, order)
    w = epdf["weight"].to_numpy(np.float64)
    order = np.lexsort((src, dst))
    src, dst, w = src[order], dst[order], w[order]
    udst, starts = np.unique(dst, return_index=True)
    bounds = np.append(starts, len(dst))
    deg = np.zeros(len(ids))
    deg[udst] = np.add.reduceat(w, starts)
    assert len(udst) > 0
    for _ in range(steps):
        nsum = np.zeros_like(X)
        for i in range(len(udst)):
            s, e = bounds[i], bounds[i + 1]
            nsum[udst[i]] = w[s:e] @ X[src[s:e]]
        X = (1.0 - eta * deg)[:, None] * X + eta * nsum
    assert np.array_equal(out["item_id"].to_numpy(), ids)
    assert np.array_equal(np.stack(out["features"].to_numpy()), X)
    edges.unpersist()
    items.unpersist()


def test_segment_sum_slices_long_segments():
    """Pin: a destination with more incoming edges than X has rows
    (repeated edges) is summed in X-sized slices to the same value."""
    rng = np.random.default_rng(2)
    X = rng.standard_normal((4, 3))
    src = rng.integers(0, 4, 11)
    w = rng.uniform(0.1, 1.0, 11)
    seg = M.dst_segments(src, np.zeros(11, dtype=np.int64), w, 4)
    out = M.segment_sum(X, seg)
    np.testing.assert_allclose(out[0], w @ X[src], rtol=1e-14)
    assert not out[1:].any()
    assert seg.deg[0] == pytest.approx(w.sum(), rel=1e-14)


# ---- spool tier -------------------------------------------------------


def _write_corpus(spark, tmp_path, n=300, f=8, seed=3, ids=None):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, f)) * 4
    ids = list(range(n)) if ids is None else ids
    rows = [(int(i), [float(v) for v in X[k]]) for k, i in enumerate(ids)]
    p = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        rows, "item_id long, features array<double>").write.parquet(p)
    return p, X


def _lfx_dirs(path) -> list:
    return [p for p in os.listdir(path) if p.startswith("pyarrowspace-lfx-")]


def test_spool_tier_exact_vs_driver_tier(spark, test0_items_df,
                                         monkeypatch):
    """Pin: the spool tier ships X in exact fp64 and accumulates its
    partials in fp64, so L_F equals the driver tier's at 1e-12."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = K.knn_edges(test0_items_df, gp, strategy="exact")
    lf_exact = L.feature_laplacian(test0_items_df, edges, 24)
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)  # force spool tier
    lf64 = L.feature_laplacian(test0_items_df, edges, 24)
    scale = max(float(np.abs(lf_exact).max()), 1e-30)
    assert float(np.abs(lf64 - lf_exact).max()) / scale < 1e-12


def test_parquet_scan_source_whitelist(spark, tmp_path):
    """Trivial scans and pure renames resolve to source files+names;
    any plan with compute (transform, filter, cache) returns None —
    the fast path must never stream values the plan would change."""
    p, _ = _write_corpus(spark, tmp_path)
    items = spark.read.parquet(p).select("item_id", "features")
    src = spool.parquet_scan_source(items, "item_id", "features")
    assert src is not None
    assert src["id_col"] == "item_id" and src["feat_col"] == "features"
    assert all(os.path.isfile(f) for f in src["files"])

    ren = spark.read.parquet(p).select(
        F.col("item_id").alias("id"), F.col("features").alias("emb"))
    r = spool.parquet_scan_source(ren, "id", "emb")
    assert r is not None
    assert r["id_col"] == "item_id" and r["feat_col"] == "features"

    assert spool.parquet_scan_source(
        items.filter(F.col("item_id") > 3), "item_id", "features") is None
    assert spool.parquet_scan_source(
        items.withColumn("features",
                         F.transform("features", lambda x: x * 2)),
        "item_id", "features") is None
    # a cached PURE scan is still accepted (the cache holds exactly the
    # source values, so streaming from the files is value-identical);
    # a cached TRANSFORMED plan must be rejected like its uncached twin
    cached = items.persist()
    bad = items.withColumn(
        "features", F.transform("features", lambda x: x + 1)).persist()
    try:
        cached.count(), bad.count()
        assert spool.parquet_scan_source(
            cached, "item_id", "features") is not None
        assert spool.parquet_scan_source(
            bad, "item_id", "features") is None
    finally:
        cached.unpersist()
        bad.unpersist()


def test_spool_from_parquet_matches_source(spark, tmp_path):
    """Pin: the producer's spool holds exactly the source matrix in
    id-sorted row order (ids here are already 0..n-1, so sorted ==
    original), and a per-batch transform is applied to every row."""
    p, X = _write_corpus(spark, tmp_path, n=257, f=6)
    items = spark.read.parquet(p).select("item_id", "features")
    src = spool.parquet_scan_source(items, "item_id", "features")
    x_path = str(tmp_path / "x.npy")
    s_ids = spool.from_parquet(src["files"], "item_id", "features", 257, 6,
                               x_path)
    assert np.array_equal(s_ids, np.arange(257))
    assert np.array_equal(np.load(x_path), X)
    u_path = str(tmp_path / "u.npy")
    s_ids = spool.from_parquet(src["files"], "item_id", "features", 257, 6,
                               u_path, np.float32, K._normalize_f32)
    assert np.array_equal(s_ids, np.arange(257))
    assert np.array_equal(np.load(u_path), K._normalize_f32(X))
    # row-count mismatch → None (the caller takes another source)
    assert spool.from_parquet(src["files"], "item_id", "features", 256, 6,
                              str(tmp_path / "x2.npy")) is None


def test_spool_modes_group_readable_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE",
                       raising=False)
    assert spool.modes() == (0o750, 0o640)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE", "1")
    assert spool.modes() == (0o755, 0o644)


def test_edges_reuse_build_uses_scan_spool(spark, tmp_path, monkeypatch):
    """The edges-reuse rebuild (`ArrowSpaceBuilder.build(items, params,
    edges=saved)` — the fresh-JVM ANN-phase path at 2M) must stream its
    X spool from the SAME corpus parquet as a fresh build when items is
    a trivial parquet scan: the kNN stage is skipped, but nothing about
    reusing edges makes the corpus less scannable. Pins the builder's
    x_src resolution surviving the `edges is not None` branch, spying
    on the files the producer streams."""
    p, _ = _write_corpus(spark, tmp_path, n=220, f=8)
    items = spark.read.parquet(p).select("item_id", "features")
    gp = {"eps": 0.9, "k": 5, "topk": 5, "p": 2.0, "sigma": 0.2}
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)  # force spool tier
    streamed = []
    real = spool.from_parquet

    def _spy(files, *a, **k):
        streamed.append(list(files))
        return real(files, *a, **k)

    monkeypatch.setattr(spool, "from_parquet", _spy)
    corpus = sorted(spool.parquet_scan_source(
        items, "item_id", "features")["files"])
    idx = ArrowSpaceBuilder.build(items, gp, strategy="exact")
    assert [sorted(f) for f in streamed] == [corpus]
    saved = str(tmp_path / "edges.parquet")
    idx.edges.write.parquet(saved)

    streamed.clear()
    idx2 = ArrowSpaceBuilder.build(
        items, gp, edges=spark.read.parquet(saved))
    assert [sorted(f) for f in streamed] == [corpus]
    # value parity: the reused-graph rebuild reproduces the λ table
    # (relative tolerance: the edge parquet round-trip reorders rows,
    # so partial sums accumulate in a different order — measured max
    # relative delta ~7e-16)
    a = {r["item_id"]: r["lambda"] for r in idx.lambdas().collect()}
    b = {r["item_id"]: r["lambda"] for r in idx2.lambdas().collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[i] - b[i]) <= 1e-12 * max(abs(a[i]), 1.0)
               for i in a)


@pytest.mark.parametrize("source", ["scatter", "parquet"])
def test_spool_tier_rejects_duplicate_ids(spark, tmp_path, monkeypatch,
                                          source):
    """Contract: a repeated id raises ValueError in the spool tier, as in
    the driver tier, from the task scatter and from the corpus parquet
    — it used to return an L_F built from one copy's row, and the spool
    dir is removed."""
    p, _ = _write_corpus(spark, tmp_path, n=4, f=3, ids=[0, 1, 1, 2])
    items = spark.read.parquet(p).select("item_id", "features")
    edges = spark.createDataFrame([(0, 1, 0.5), (1, 2, 0.25)], EDGE_SCHEMA)
    src = (spool.parquet_scan_source(items, "item_id", "features")
           if source == "parquet" else None)
    assert (src is None) == (source == "scatter")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    with pytest.raises(ValueError, match=r"unique; 1 ids repeat \(e\.g\. 1\)"):
        L.feature_laplacian(items, edges, 3, x_source=src)
    assert _lfx_dirs(tmp_path) == []


def test_spool_tier_refuses_full_scratch(spark, test0_items_df, monkeypatch,
                                         tmp_path):
    """Contract: too little free scratch is a clear error stating the
    bytes needed (N·F·8 + 64 MiB), the bytes free and the directory —
    and no spool dir is created."""
    edges = spark.createDataFrame([(0, 1, 0.5)], EDGE_SCHEMA)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    usage = namedtuple("usage", "total used free")
    monkeypatch.setattr(shutil, "disk_usage",
                        lambda p: usage(1 << 30, (1 << 30) - 1000, 1000))
    before = list(M._SCRATCH_DIRS)
    with pytest.raises(RuntimeError) as ei:
        L.feature_laplacian(test0_items_df, edges, 24)
    msg = str(ei.value)
    need = 5 * 24 * 8 + (64 << 20)
    assert str(need) in msg and "1000" in msg and str(tmp_path) in msg
    assert _lfx_dirs(tmp_path) == []
    assert M._SCRATCH_DIRS == before


def test_spool_tier_multi_host_needs_scratch(spark, test0_items_df,
                                             monkeypatch):
    """Contract: a multi-host master with no worker-visible scratch dir
    cannot run the spool tier: a RuntimeError names
    SPARK_GRAFT_SCRATCH_DIR, as in diffusion and the LSH build."""
    edges = spark.createDataFrame([(0, 1, 0.5)], EDGE_SCHEMA)
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    monkeypatch.setattr(spool, "single_host_master", lambda spark: False)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_SCRATCH_DIR"):
        L.feature_laplacian(test0_items_df, edges, 24)


def test_spool_tier_failure_removes_spool(spark, test0_items_df,
                                          monkeypatch, tmp_path):
    """Contract: a failure in the L_F partition kernel leaves no spool
    dir under the scratch dir and no registration in
    matrix._SCRATCH_DIRS."""
    edges = spark.createDataFrame([(0, 1, 0.5), (2, 3, 0.4)], EDGE_SCHEMA)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)

    def _boom_factory(*a, **k):
        def kernel(batches):
            raise RuntimeError("injected L_F kernel failure")
            yield  # pragma: no cover - makes this a generator

        return kernel

    monkeypatch.setattr(L, "_make_laplacian_kernel", _boom_factory)
    before = list(M._SCRATCH_DIRS)
    with pytest.raises(Exception, match="injected L_F kernel failure"):
        L.feature_laplacian(test0_items_df, edges, 24)
    assert _lfx_dirs(tmp_path) == []
    assert M._SCRATCH_DIRS == before


def test_spool_tier_plan_is_one_dst_partitioned_kernel(spark, monkeypatch):
    """Plan pin: the spool tier's jobs hold no HashAggregate (each
    partition's segments carry their own degrees, so no degree
    aggregate runs) and exactly one mapInPandas over the edges
    hash-partitioned by dst (`matrix.dst_layout`)."""
    ids, X = _matrix(60, 6, seed=3)
    items = _items(spark, ids, X)
    graph = _graph(ids, "isolated")
    edges = spark.createDataFrame(graph, EDGE_SCHEMA)
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    plans = []
    cls = type(items)
    real = cls.toPandas

    def _spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self)

    monkeypatch.setattr(cls, "toPandas", _spy)
    lf = L.feature_laplacian(items, edges, 6, counts=(60, len(graph)))
    monkeypatch.undo()
    assert [p for p in plans if "HashAggregate" in p] == []
    kernels = [p for p in plans if "hashpartitioning(dst" in p]
    assert len(kernels) == 1 and kernels[0].count("MapInPandas") == 1
    ref = _dense_lf(ids, X, graph)
    np.testing.assert_allclose(lf, ref, rtol=1e-12,
                               atol=1e-12 * np.abs(ref).max())


def _held_spools() -> set:
    """Spool files some Python worker still maps after their dir was
    removed, read from /proc."""
    held = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark" not in fh.read():
                    continue
            with open(f"/proc/{pid}/maps") as fh:
                held |= {ln.split()[-2] for ln in fh
                         if "pyarrowspace-" in ln
                         and ln.rstrip().endswith("(deleted)")}
        except OSError:
            continue
    return held


@pytest.mark.skipif(not os.path.exists("/proc/self/maps"),
                    reason="reads the workers' maps under /proc")
def test_dropped_spools_are_not_held_by_workers(spark, test0_items_df,
                                                monkeypatch):
    """Contract: once an LSH build and an L_F spool tier return, no
    Python worker still maps their removed spool files. The worker-side
    cache (`spool.reopen`) keeps the spool's ids, not its mmap: a cached
    mmap kept a dropped spool's disk blocks allocated in every idle
    worker until its next spool kernel."""
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    edges = K.knn_edges(test0_items_df, GP_T0, strategy="lsh").persist()
    edges.count()
    L.feature_laplacian(test0_items_df, edges, 24)
    edges.unpersist()
    assert _held_spools() == set()


def test_gather_scan_source_parity(spark, tmp_path, monkeypatch):
    """The spool tier is BITWISE equal from each of `spool.write`'s
    three sources — the corpus parquet scan, the task scatter and the
    parquet copy of multi-host masters (same id-sorted storage, same
    edge layout, same fp64 accumulation — only the spool's producer
    differs)."""
    p, _ = _write_corpus(spark, tmp_path, n=220, f=8)
    items = spark.read.parquet(p).select("item_id", "features")
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0, sigma=0.2)
    edges = K.knn_edges(items, gp, strategy="exact").persist()
    edges.count()
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)  # force spool tier
    src = spool.parquet_scan_source(items, "item_id", "features")
    assert src is not None
    lf_scan = L.feature_laplacian(items, edges, 8, x_source=src)
    lf_scatter = L.feature_laplacian(items, edges, 8, x_source=None)
    assert np.array_equal(lf_scan, lf_scatter)
    monkeypatch.setattr(spool, "single_host_master", lambda spark: False)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    copies = []
    real = spool.part_files

    def _spy(d):
        copies.append(d)
        return real(d)

    monkeypatch.setattr(spool, "part_files", _spy)
    lf_copy = L.feature_laplacian(items, edges, 8, x_source=None)
    assert len(copies) == 1 and _lfx_dirs(tmp_path) == []
    assert np.array_equal(lf_copy, lf_scan)
    edges.unpersist()


def test_spool_tier_never_collects_x(spark, tmp_path, monkeypatch):
    """With `matrix.collect_id_matrix` raising, the spool tier over a
    `createDataFrame` frame (no proven scan: the task scatter) gives
    L_F `==` to the same rows read through a proven parquet scan: X is
    never collected on the driver."""
    p, X = _write_corpus(spark, tmp_path, n=180, f=8, seed=5)
    scan = spark.read.parquet(p).select("item_id", "features")
    rows = _items(spark, np.arange(180), X)
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0, sigma=0.2)
    edges = K.knn_edges(scan, gp, strategy="exact").persist()
    edges.count()
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)  # force spool tier
    src = spool.parquet_scan_source(scan, "item_id", "features")
    assert src is not None
    assert spool.parquet_scan_source(rows, "item_id", "features") is None
    want = L.feature_laplacian(scan, edges, 8, x_source=src)

    def _no_collect(*a, **k):
        raise AssertionError("the spool tier collected X")

    monkeypatch.setattr(M, "collect_id_matrix", _no_collect)
    got = L.feature_laplacian(rows, edges, 8)
    edges.unpersist()
    assert np.array_equal(got, want)


def test_build_with_reused_edges_matches(spark, tmp_path):
    """ArrowSpaceBuilder.build(edges=...) — the standard-build twin of
    build_energy's one-graph-two-indexes reuse: rebuilding the index
    from a saved edge list yields the same λ table and L_F as the
    original build (the harness uses this to run the 2M ANN phase in
    a fresh JVM without re-paying the kNN stage)."""
    p, _ = _write_corpus(spark, tmp_path, n=150, f=8, seed=9)
    items = spark.read.parquet(p).select("item_id", "features")
    gp = {"eps": 0.9, "k": 5, "topk": 5, "p": 2.0}
    idx = ArrowSpaceBuilder.build(items, gp, strategy="exact")
    ep = str(tmp_path / "edges.parquet")
    idx.edges.write.parquet(ep)
    idx2 = ArrowSpaceBuilder.build(
        items, gp, edges=spark.read.parquet(ep))
    assert idx2.lsh_build_info is None
    assert np.allclose(idx2.feature_laplacian, idx.feature_laplacian,
                       rtol=1e-12, atol=0)
    assert idx2.tau_synth == pytest.approx(idx.tau_synth, rel=1e-12)
    lam1 = {r["item_id"]: r["lambda"]
            for r in idx.items.select("item_id", "lambda").collect()}
    lam2 = {r["item_id"]: r["lambda"]
            for r in idx2.items.select("item_id", "lambda").collect()}
    assert lam1.keys() == lam2.keys()
    assert all(lam2[i] == pytest.approx(lam1[i], rel=1e-12)
               for i in lam1)


def test_laplacian_falls_back_distributed_when_collect_too_big(
        spark, test0_items_df, monkeypatch):
    """A collect over spark.driver.maxResultSize ABORTS the job, so
    the driver-BLAS Laplacian tiers must not be picked when X would
    not fit — the fully distributed tier computes the same L_F (the
    N=600k p_bit run crashed on exactly this tier mis-selection)."""
    edges = K.knn_edges(test0_items_df, GP_T0, strategy="exact")
    nf = len(test0_items_df.first()["features"])
    want = L.feature_laplacian(test0_items_df, edges, nf)

    def _no_collect(*a, **k):
        raise AssertionError("driver tier collected X despite "
                             "maxResultSize ineligibility")

    monkeypatch.setattr(M, "collect_eligible", lambda s, b: False)
    monkeypatch.setattr(M, "collect_id_matrix", _no_collect)
    monkeypatch.setattr(M, "collect_graph", _no_collect)
    got = L.feature_laplacian(test0_items_df, edges, nf)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_probe_worker_visible(spark, tmp_path):
    """Scratch-rule visibility probe (ADVICE r11): a real shared dir
    probes True; an unwritable/nonexistent dir probes False without
    raising."""
    assert spool.probe_worker_visible(spark, str(tmp_path)) is True
    assert spool.probe_worker_visible(
        spark, str(tmp_path / "does-not-exist")) is False
    # no marker corpses left behind
    assert not [p for p in os.listdir(tmp_path)
                if p.startswith("pyarrowspace-visprobe-")]


def test_gather_diag_hoist_matches_driver_tier(spark):
    """feature_laplacian's spool tier (one partial per dst partition,
    with the degrees from its own segments) still agrees with the
    driver-BLAS tier."""
    items = _corpus(spark, n=300, f=16, seed=11)
    gp = GraphParams(eps=0.9, k=6, topk=6, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact").persist()
    lf_driver = L.feature_laplacian(items, edges, 16)
    # force the gather tier by dropping the driver-tier budget
    old = M.DRIVER_BUDGET_BYTES
    try:
        M.DRIVER_BUDGET_BYTES = 0
        lf_gather = L.feature_laplacian(items, edges, 16)
    finally:
        M.DRIVER_BUDGET_BYTES = old
    edges.unpersist()
    assert np.allclose(lf_gather, lf_driver, rtol=1e-9, atol=1e-9)
    assert float(np.abs(lf_gather).max()) > 0


# One input contract (`matrix.census`) on every build path: bad rows
# (row 3 ragged, its features null, or its id null) raise the one
# ValueError naming the lengths before any kNN, collect or Python pass.
BAD_MESSAGES = {
    "ragged": "lengths range from 23 to 24 over 5 rows, 0 of them with "
              "null features and 0 with a null id",
    "null_features": "lengths range from 24 to 24 over 5 rows, 1 of them "
                     "with null features and 0 with a null id",
    "null_id": "lengths range from 24 to 24 over 5 rows, 0 of them with "
               "null features and 1 with a null id",
}


def _bad_rows(spark, bad):
    from .conftest import TEST0_ITEMS

    rows = [(i, list(row)) for i, row in enumerate(TEST0_ITEMS)]
    rows[3] = {"ragged": (3, rows[3][1][:23]),
               "null_features": (3, None),
               "null_id": (None, rows[3][1])}[bad]
    return spark.createDataFrame(rows, "item_id long, features array<double>")


@pytest.fixture(scope="module")
def t0_indexes(test0_items_df):
    edges = K.knn_edges(test0_items_df, GP_T0, strategy="exact").persist()
    return (edges, ArrowSpaceBuilder.build(test0_items_df, GP_T0),
            E.build_energy(test0_items_df, EP_T0, GP_T0, edges=edges))


@pytest.mark.parametrize("bad", sorted(BAD_MESSAGES))
@pytest.mark.parametrize("entry", [
    "knn_edges", "build_energy_edges", "build_energy_knn", "diffuse",
    "feature_laplacian", "extend", "extend_energy"])
def test_every_build_path_rejects_bad_rows(spark, t0_indexes, entry, bad):
    """Contract: exact knn_edges, build_energy (given edges or building
    its own), diffuse, feature_laplacian and both extends reject ragged,
    null-feature and null-id rows with the builder's one ValueError.
    They used to die in numpy's stack, a Python worker or an id sort,
    or to index the row."""
    edges, idx, eidx = t0_indexes
    items = _bad_rows(spark, bad)
    calls = {
        "knn_edges": lambda: K.knn_edges(items, GP_T0, strategy="exact"),
        "build_energy_edges": lambda: E.build_energy(items, EP_T0, GP_T0,
                                                     edges=edges),
        "build_energy_knn": lambda: E.build_energy(items, EP_T0, GP_T0),
        "diffuse": lambda: E.diffuse(items, edges, 0.05, 2),
        "feature_laplacian": lambda: L.feature_laplacian(items, edges, 24),
        "extend": lambda: ArrowSpaceBuilder.extend(idx, items),
        "extend_energy": lambda: eidx.extend(items),
    }
    with pytest.raises(ValueError, match=BAD_MESSAGES[bad]):
        calls[entry]()


def test_empty_input_keeps_each_callers_outcome(spark, t0_indexes):
    """Contract: on an empty items frame the census returns (0, 0, E)
    and each caller keeps its outcome: feature_laplacian raises a
    ValueError (it used to be numpy's stack error), diffuse returns its
    input, build_energy raises and both extends return the index."""
    edges, idx, eidx = t0_indexes
    empty = spark.createDataFrame([], "item_id long, features array<double>")
    assert M.census(empty, edges) == (0, 0, edges.count())
    with pytest.raises(ValueError, match="items frame is empty"):
        L.feature_laplacian(empty, edges, 24)
    assert E.diffuse(empty, edges, 0.05, 2).count() == 0
    with pytest.raises(ValueError, match="items frame is empty"):
        E.build_energy(empty, EP_T0, GP_T0, edges=edges)
    assert ArrowSpaceBuilder.extend(idx, empty) is idx
    assert eidx.extend(empty) is eidx
