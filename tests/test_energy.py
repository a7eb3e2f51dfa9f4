"""Energy pipeline tests: diffusion exactness vs numpy, full
build_energy/search_energy behavior (golden-pinned, SURVEY §2 G12-G15)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.params import EnergyParams, GraphParams
from pyarrowspace_spark.operators import knn as knn_ops
from pyarrowspace_spark.operators import energy as E

from .conftest import TEST0_ITEMS

GP = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)


@pytest.fixture(scope="module")
def edges(test0_items_df):
    return knn_ops.knn_edges(test0_items_df, GP, strategy="exact").persist()


def test_diffuse_one_step_matches_numpy(spark, test0_items_df, edges,
                                      monkeypatch):
    """One step of the distributed (spool) tier is exact fp64."""
    eta = 0.1
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    out = E.diffuse(test0_items_df, edges, eta, steps=1)
    assert E._LAST_DIFFUSE_INFO["plan"] == "spool"
    got = {r["item_id"]: np.array(r["features"])
           for r in out.collect()}

    # numpy ground truth: x' = x - eta * L x
    X = np.array(TEST0_ITEMS)
    rows = edges.collect()
    n = len(X)
    W = np.zeros((n, n))
    for r in rows:
        W[r["src"], r["dst"]] = r["weight"]
        W[r["dst"], r["src"]] = r["weight"]
    L = np.diag(W.sum(1)) - W
    expect = X - eta * (L @ X)
    for i in range(n):
        np.testing.assert_allclose(got[i], expect[i], rtol=1e-12)


def test_diffusion_reduces_dirichlet_energy(spark, test0_items_df, edges):
    """Heat diffusion must not increase the graph Dirichlet energy
    Σ w_ij ||x_i - x_j||² (physics sanity)."""
    rows = edges.collect()
    X0 = np.array(TEST0_ITEMS)
    diffused = E.diffuse(test0_items_df, edges, eta=0.1, steps=3)
    X1r = {r["item_id"]: np.array(r["features"]) for r in diffused.collect()}
    X1 = np.stack([X1r[i] for i in range(len(X0))])

    def dirichlet(X):
        return sum(r["weight"] * np.sum((X[r["src"]] - X[r["dst"]]) ** 2)
                   for r in rows)

    assert dirichlet(X1) < dirichlet(X0)


@pytest.fixture(scope="module")
def energy_index(spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    items = items_from_embeddings(spark, "/root/testdata/sf0.001").select(
        "item_id", "features"
    )
    return E.build_energy(
        items,
        EnergyParams(optical_tokens=16, eta=0.05, steps=2, trim_quantile=0.1),
        GraphParams(eps=0.9, k=10, topk=10, p=2.0),
    )


def test_build_energy_shapes(energy_index):
    n_nodes = energy_index.nnodes
    assert 2 <= n_nodes <= 40  # ~optical_tokens, + splits
    cols = set(energy_index.centroids.columns)
    assert {"centroid_id", "n_members", "lambda_c", "e_c", "center"} <= cols
    assert energy_index.items.filter(F.col("lambda").isNull()).count() == 0


def test_search_energy_topk(energy_index):
    row = energy_index.items.filter(F.col("item_id") == 7).first()
    q = np.array(row["features"])
    hits = E.search_energy(energy_index, q, k=5)
    got = hits.orderBy("rank").collect()
    assert len(got) == 5
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)
    # query equals item 7's diffused vector -> identical lambda/e ->
    # maximal score w_l*1 + w_d*1 for item 7 itself
    assert got[0]["item_id"] == 7


def test_energy_deterministic(energy_index, spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    items = items_from_embeddings(spark, "/root/testdata/sf0.001").select(
        "item_id", "features"
    )
    idx2 = E.build_energy(
        items,
        EnergyParams(optical_tokens=16, eta=0.05, steps=2, trim_quantile=0.1),
        GraphParams(eps=0.9, k=10, topk=10, p=2.0),
    )
    a = {(r["centroid_id"], r["n_members"])
         for r in energy_index.centroids.collect()}
    b = {(r["centroid_id"], r["n_members"]) for r in idx2.centroids.collect()}
    assert a == b


def test_diffuse_tiers_agree(spark, test0_items_df, edges, monkeypatch):
    """The driver tier and the distributed spool tier are physical
    plans for the same operator; on the default path multi-step
    outputs must agree to fp noise."""
    a = E.diffuse(test0_items_df, edges, eta=0.1, steps=3)
    assert E._LAST_DIFFUSE_INFO["tier"] == "driver"
    got_a = {r["item_id"]: np.array(r["features"]) for r in a.collect()}
    # force the beyond-broadcast tier
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    b = E.diffuse(test0_items_df, edges, eta=0.1, steps=3)
    assert E._LAST_DIFFUSE_INFO["plan"] == "spool"
    got_b = {r["item_id"]: np.array(r["features"]) for r in b.collect()}
    assert set(got_a) == set(got_b)
    for i in got_a:
        np.testing.assert_allclose(got_a[i], got_b[i], rtol=1e-9)


def test_extend_energy_frozen_contract(energy_index, spark):
    """EnergyIndex.extend appends new items against FROZEN artifacts
    (L_F, tau_synth, centroid centers) with O(new) work; scalar
    centroid moments refresh for affected centroids only."""
    from pyarrowspace_spark.operators import lambda_index as lam_ops

    base_n = energy_index.items.count()
    src = (energy_index.items.filter(F.col("item_id").isin([3, 7, 11]))
           .select("item_id", "features").collect())
    new_rows = [(10_000 + r["item_id"],
                 [float(v) * 1.01 for v in r["features"]]) for r in src]
    new_df = spark.createDataFrame(
        new_rows, schema="item_id long, features array<double>")
    ext = energy_index.extend(new_df)

    assert ext.items.count() == base_n + 3
    # frozen scalars/matrices
    assert ext.tau_synth == energy_index.tau_synth
    np.testing.assert_array_equal(
        ext.feature_laplacian, energy_index.feature_laplacian)
    # centroid CENTERS frozen (ids identical, vectors identical);
    # n_members totals absorb exactly the 3 appended rows
    c0 = {r["centroid_id"]: (np.array(r["center"]), r["n_members"])
          for r in energy_index.centroids.collect()}
    c1 = {r["centroid_id"]: (np.array(r["center"]), r["n_members"])
          for r in ext.centroids.collect()}
    assert set(c0) == set(c1)
    for cid in c0:
        np.testing.assert_allclose(c0[cid][0], c1[cid][0], rtol=0)
    assert sum(v[1] for v in c0.values()) == base_n
    assert sum(v[1] for v in c1.values()) == base_n + 3

    # each new member landed in an existing centroid, with lambda/e
    # matching the frozen-kernel computation exactly
    newm = {r["item_id"]: r for r in ext.items.filter(
        F.col("item_id") >= 10_000).collect()}
    assert set(newm) == {10_003, 10_007, 10_011}
    q = np.array([newm[i]["features"] for i in sorted(newm)])
    e_exp, _, lam_exp = lam_ops._lambda_kernel(
        q, energy_index.feature_laplacian, energy_index.tau_synth)
    for j, i in enumerate(sorted(newm)):
        assert newm[i]["centroid_id"] in c0
        np.testing.assert_allclose(newm[i]["e_raw"], e_exp[j], rtol=1e-12)
        np.testing.assert_allclose(newm[i]["lambda"], lam_exp[j], rtol=1e-12)

    # the appended item is immediately searchable: querying its own
    # vector gives identical lambda/e -> maximal score -> rank 1
    hits = E.search_energy(ext, q[1], k=5).orderBy("rank").collect()
    assert hits[0]["item_id"] == 10_007

    # refresh off -> the centroid table is the SAME frame, fully frozen
    ext2 = energy_index.extend(new_df, refresh_centroid_attrs=False)
    assert ext2.centroids is energy_index.centroids


def test_extend_energy_validates_nfeatures(energy_index, spark):
    bad = spark.createDataFrame(
        [(99_999, [0.1, 0.2, 0.3])],
        schema="item_id long, features array<double>")
    with pytest.raises(ValueError, match="features"):
        energy_index.extend(bad)
