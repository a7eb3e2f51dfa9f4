"""Driver-tier feature Laplacian L_F = Xᵀ(D−W)X and the neighbour
combine it shares with driver-tier diffusion (`matrix.segment_sum`):
the dense-numpy pin, the O(N·F) memory contracts of L_F and of the
X collect, the duplicate-id contract, and driver diffusion pinned to
its per-destination matvec loop bit for bit."""

import tracemalloc

import numpy as np
import pytest

from pyarrowspace_spark import ArrowSpaceBuilder
from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import lambda_index as L
from pyarrowspace_spark.params import GraphParams
from pyarrowspace_spark.sources.loaders import items_from_embeddings

from .test_lsh_recall import SF_DIR

EDGE_SCHEMA = "src long, dst long, weight double"


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


def _x_matrix(ids, X):
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
@pytest.mark.parametrize("x_input", ["x_matrix", "collect"])
def test_driver_laplacian_matches_dense(spark, case, x_input):
    """Pin: the driver tier equals a dense numpy Xᵀ(D−W)X at rtol 1e-12,
    on isolated nodes, a self-loop, a repeated edge and no edges at all,
    from a handed-over matrix and from a collect."""
    ids, X = _matrix(40, 12, seed=11)
    edges = _graph(ids, case)
    lf = L.feature_laplacian(
        _items(spark, ids, X), spark.createDataFrame(edges, EDGE_SCHEMA),
        X.shape[1],
        x_matrix=_x_matrix(ids, X) if x_input == "x_matrix" else None)
    ref = _dense_lf(ids, X, edges)
    np.testing.assert_allclose(lf, ref, rtol=1e-12,
                               atol=1e-12 * np.abs(ref).max())
    assert np.array_equal(lf, lf.T)
    if case == "empty":
        assert not lf.any()


@pytest.mark.parametrize("x_input", ["x_matrix", "collect"])
def test_driver_laplacian_memory_is_o_nf(spark, x_input):
    """Contract: the driver tier's peak traced allocation stays within
    4·N·F·8 bytes plus O(E) scalars whatever the edge count — the
    edge-side form held three E×F float64 temporaries (3·E·F·8 bytes,
    38× X on the benchmark graph)."""
    n, f = 200, 96
    ids, X = _matrix(n, f, seed=5)
    items = _items(spark, ids, X).persist()
    items.count()
    xm = _x_matrix(ids, X) if x_input == "x_matrix" else None
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
            L.feature_laplacian(items, edges, f, x_matrix=xm)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        bound = 4 * n * f * 8 + 48 * 8 * n_edges + (1 << 20)
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
    """Pin: driver diffusion through `segment_sum` equals, with ==, the
    per-destination matvec loop it ran inline before, on sf0.001."""
    from pyarrowspace_spark.operators import knn as K

    items = items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features").persist()
    edges = K.knn_edges(items, GraphParams(eps=0.9, k=10, topk=5, p=2.0),
                        strategy="exact").persist()
    eta, steps = 0.05, 3
    out = []
    E._diffuse_driver(items, edges, eta, steps, "item_id", "features",
                      out_matrix=out)
    ids, X = _x_matrix(*M.collect_id_matrix(items, "item_id", "features"))
    epdf = E._symmetrize(edges).toPandas()
    sids, order = M.sorted_index(ids)
    src = M.positions_of(epdf["src"].to_numpy(np.int64), sids, order)
    dst = M.positions_of(epdf["dst"].to_numpy(np.int64), sids, order)
    w = epdf["weight"].to_numpy(np.float64)
    order = np.argsort(dst, kind="stable")
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
    assert np.array_equal(out[0][0], ids)
    assert np.array_equal(out[0][1], X)
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
