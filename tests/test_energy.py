"""Energy pipeline tests: diffusion exactness vs numpy, full
build_energy/search_energy behavior (golden-pinned, SURVEY §2 G12-G15),
the search kernel pinned to a replay of its SQL formula, and
save/load and extend followed by search."""

import dataclasses
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.params import EnergyParams, GraphParams
from pyarrowspace_spark.operators import knn as knn_ops
from pyarrowspace_spark.operators import energy as E

from .conftest import TEST0_ITEMS
from .test_lsh_recall import SF_DIR

GP = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)


def _corpus(spark, n=700, f=24, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((5, f))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = centers[rng.integers(0, 5, n)] + 0.08 * rng.standard_normal((n, f))
    X *= 12.0
    return spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        schema="item_id long, features array<double>")


@pytest.fixture(scope="module")
def edges(test0_items_df):
    return knn_ops.knn_edges(test0_items_df, GP, strategy="exact").persist()


def test_diffuse_one_step_matches_numpy(spark, test0_items_df, edges,
                                      monkeypatch):
    """One step of the distributed (spool) tier is exact fp64."""
    eta = 0.1
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    info: dict = {}
    out = E.diffuse(test0_items_df, edges, eta, steps=1, info=info)
    assert info["plan"] == "spool"
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
def sf_items(spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    return items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features").persist()


@pytest.fixture(scope="module")
def energy_index(sf_items):
    return E.build_energy(
        sf_items,
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
    info_a: dict = {}
    a = E.diffuse(test0_items_df, edges, eta=0.1, steps=3, info=info_a)
    assert info_a["tier"] == "driver"
    got_a = {r["item_id"]: np.array(r["features"]) for r in a.collect()}
    # force the beyond-broadcast tier
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    info_b: dict = {}
    b = E.diffuse(test0_items_df, edges, eta=0.1, steps=3, info=info_b)
    assert info_b["plan"] == "spool"
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
    e_exp, _, lam_exp = lam_ops.lambda_kernel(
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


# The tiny-corpus energy build (test0 items, 3 tokens) and the
# normalise=True sf0.001 build.
GP_T0 = GraphParams(eps=0.9, k=4, topk=5, p=2.0)
EP_T0 = EnergyParams(optical_tokens=3, eta=0.05, steps=2, trim_quantile=0.1)
EP_SF = EnergyParams(optical_tokens=16, eta=0.05, steps=2, trim_quantile=0.1)
GPN = GraphParams(eps=0.9, k=10, topk=10, p=2.0, normalise=True)


def test_search_energy_batch_equals_per_query(spark, test0_items_df):
    """An (M, F) query matrix in ONE call returns exactly the union of
    the M single-vector calls, with caller-supplied query ids."""
    idx = E.build_energy(test0_items_df, EP_T0, GP_T0)
    feats = {r["item_id"]: np.array(r["features"])
             for r in idx.items.select("item_id", "features").collect()}
    qids = [1, 3]
    qmat = np.stack([feats[q] for q in qids])
    batched = {
        (r["query_id"], r["item_id"], r["rank"], round(r["score"], 9))
        for r in E.search_energy(idx, qmat, k=3, query_ids=qids).collect()
    }
    single = set()
    for q in qids:
        for r in E.search_energy(idx, feats[q], k=3).collect():
            single.add((q, r["item_id"], r["rank"], round(r["score"], 9)))
    assert batched == single
    with pytest.raises(ValueError, match="query_ids"):
        E.search_energy(idx, qmat, k=3, query_ids=[1])


def test_energy_index_save_load_roundtrip(spark, test0_items_df, tmp_path):
    """EnergyIndex.save/load: a reloaded index answers search_energy
    identically to the in-memory one (params, τ, Laplacian, centroid
    and member tables all round-trip)."""
    idx = E.build_energy(test0_items_df, EP_T0, GP_T0)
    path = str(tmp_path / "eidx")
    idx.save(path)
    back = E.EnergyIndex.load(spark, path)
    assert back.tau_synth == pytest.approx(idx.tau_synth)
    assert back.graph_params.to_dict() == GP_T0.to_dict()
    assert back.energy_params.to_dict() == EP_T0.to_dict()
    # `matrix.laplacian_to_parquet` stores L_F bit for bit
    assert np.array_equal(back.feature_laplacian, idx.feature_laplacian)
    assert back.nnodes == idx.nnodes
    q = np.array(
        test0_items_df.filter(F.col("item_id") == 1).first()["features"])

    def _hits(i):
        return [(r["item_id"], r["rank"], round(r["score"], 9))
                for r in E.search_energy(i, q, k=3)
                .orderBy("rank").collect()]

    assert _hits(back) == _hits(idx)


def test_build_energy_normalise_extend_roundtrip(spark, sf_items):
    """Build↔extend scale parity (the consistency the r9 fix exists to
    guarantee): on a normalise=True energy index, extending with a raw
    copy and a ×3-scaled copy of the same vector must append IDENTICAL
    rows — same stored features, λ, e_raw, and frozen-centroid
    assignment — and both are immediately searchable at rank 1."""
    idx = E.build_energy(sf_items, EP_SF, GPN)
    v = sf_items.filter(F.col("item_id") == 3).first()["features"]
    new = spark.createDataFrame(
        [(100_000, [float(x) for x in v]),
         (100_001, [float(x) * 3.0 for x in v])],
        schema="item_id long, features array<double>")
    ext = idx.extend(new)
    rows = {r["item_id"]: r for r in
            ext.items.filter(F.col("item_id") >= 100_000).collect()}
    assert set(rows) == {100_000, 100_001}
    a, b = rows[100_000], rows[100_001]
    np.testing.assert_allclose(b["features"], a["features"], rtol=1e-12)
    assert b["lambda"] == pytest.approx(a["lambda"], rel=1e-12)
    assert b["e_raw"] == pytest.approx(a["e_raw"], rel=1e-12)
    assert b["centroid_id"] == a["centroid_id"]
    # stored scale parity: the appended vector lives in the SAME
    # unit-norm space as the base corpus was stored in
    assert float(np.linalg.norm(a["features"])) == pytest.approx(1.0)
    hits = E.search_energy(ext, np.array(a["features"]), k=3).orderBy(
        "rank").collect()
    assert hits[0]["item_id"] in (100_000, 100_001)


def _score_key(s):
    # NaN != NaN, so rows compare with NaN scores as a marker
    return "nan" if s is not None and math.isnan(s) else s


def _replay(index, Q, k, qids, wl=1.0, wd=0.5):
    """The SQL plan replayed in plain Python floats: a centroid score
    and shortlist window of candidate_m per query, then the member
    score and a ranking window, each sorted as Spark sorts (score desc
    with NaN first, id asc)."""
    from pyarrowspace_spark.operators import lambda_index as lam_ops

    def order(score, ident):
        return (not math.isnan(score), 0.0 if math.isnan(score) else -score,
                ident)

    cents = index.centroids.select("centroid_id", "lambda_c", "e_c").collect()
    items = index.items.select(
        "item_id", "centroid_id", "lambda", "e_raw").collect()
    q_e, _, q_lam = lam_ops.lambda_kernel(
        np.atleast_2d(Q), index.feature_laplacian, index.tau_synth)
    out = set()
    for qid, ql, qe in zip(qids, q_lam.tolist(), q_e.tolist()):
        cs = sorted(order(wl / (1.0 + abs(ql - c["lambda_c"]))
                          + wd / (1.0 + abs(qe - c["e_c"])),
                          c["centroid_id"]) for c in cents)
        keep = {c[2] for c in cs[:index.energy_params.candidate_m]}
        scored = sorted(
            (order(wl / (1.0 + abs(ql - r["lambda"]))
                   + wd / (1.0 + abs(qe - r["e_raw"])), r["item_id"]),
             r["item_id"],
             wl / (1.0 + abs(ql - r["lambda"]))
             + wd / (1.0 + abs(qe - r["e_raw"])))
            for r in items if r["centroid_id"] in keep)
        out |= {(qid, iid, rank, _score_key(s))
                for rank, (_, iid, s) in enumerate(scored[:k], 1)}
    return out


def _got(df):
    return {(r["query_id"], r["item_id"], r["rank"], _score_key(r["score"]))
            for r in df.collect()}


def _with(index, candidate_m=None, **frames):
    ep = index.energy_params
    if candidate_m is not None:
        ep = dataclasses.replace(ep, candidate_m=candidate_m)
    return dataclasses.replace(index, energy_params=ep, **frames)


def _sf_queries(index, m, seed=11):
    X = np.array([r["features"] for r in index.items.orderBy("item_id")
                  .select("features").collect()])
    rng = np.random.default_rng(seed)
    return X[rng.choice(len(X), m, replace=False)] * 1.05


@pytest.mark.parametrize("m,k,candidate_m", [
    (1, 5, None),       # one query, default shortlist
    (20, 10, None),     # a batch
    (3, 500, 1),        # k above the shortlisted members
    (3, 8, 1000),       # candidate_m at least the centroid count
])
def test_search_energy_matches_sql_replay(energy_index, m, k, candidate_m):
    """Pin: (query_id, item_id, rank, score) equal, score with ==, to
    the SQL formula replayed in Python on sf0.001."""
    idx = _with(energy_index, candidate_m)
    Q = _sf_queries(idx, m)
    qids = list(range(40, 40 + m))
    got = _got(E.search_energy(idx, Q, k=k, query_ids=qids))
    assert got == _replay(idx, Q, k, qids)
    if candidate_m == 1:
        # k exceeds the one shortlisted centroid's members
        assert len(got) < m * k


def test_search_energy_centroid_tie_breaks_on_id(energy_index):
    """Pin: equal centroid scores shortlist the smaller centroid ids,
    as the window's (score desc, centroid_id asc) order does. Also the
    memo contract: a centroids frame swapped in after a search is read
    afresh."""
    idx = _with(energy_index, candidate_m=2)
    Q = _sf_queries(idx, 4)
    E.search_energy(idx, Q, k=5).collect()  # fills the memo
    tied = (idx.centroids.withColumn("lambda_c", F.lit(0.25))
            .withColumn("e_c", F.lit(0.5)))
    idx.centroids = tied
    got = _got(E.search_energy(idx, Q, k=600, query_ids=[0, 1, 2, 3]))
    assert got == _replay(idx, Q, 600, [0, 1, 2, 3])
    first_two = sorted(r[0] for r in tied.select("centroid_id").collect())[:2]
    members = {r["item_id"] for r in idx.items.filter(
        F.col("centroid_id").isin(first_two)).collect()}
    assert {g[1] for g in got} == members


def test_search_energy_nan_score_ranks_first(energy_index):
    """Pin: a NaN member score ranks first and stays NaN (not NULL),
    and a NaN centroid score is shortlisted first, as Spark's
    descending sort orders NaN."""
    nan = F.lit(float("nan"))
    cid = energy_index.items.filter(F.col("item_id") == 9).first()[
        "centroid_id"]
    idx = _with(
        energy_index, candidate_m=1,
        items=energy_index.items.withColumn(
            "lambda", F.when(F.col("item_id") == 9, nan)
            .otherwise(F.col("lambda"))),
        centroids=energy_index.centroids.withColumn(
            "lambda_c", F.when(F.col("centroid_id") == cid, nan)
            .otherwise(F.col("lambda_c"))))
    Q = _sf_queries(idx, 3)
    got = _got(E.search_energy(idx, Q, k=4))
    assert got == _replay(idx, Q, 4, [0, 1, 2])
    assert {g[:3] for g in got if g[2] == 1} == {(q, 9, 1) for q in range(3)}
    assert all(g[3] == "nan" for g in got if g[2] == 1)


def test_search_energy_empty_queries(energy_index):
    """An empty (0, F) query matrix returns a typed empty frame, and
    k=0 returns no rows."""
    nf = energy_index.feature_laplacian.shape[0]
    out = E.search_energy(energy_index, np.zeros((0, nf)), k=5)
    assert [(f.name, f.dataType.typeName()) for f in out.schema.fields] == [
        ("query_id", "long"), ("item_id", "long"), ("score", "double"),
        ("rank", "integer")]
    assert out.count() == 0
    assert E.search_energy(energy_index, _sf_queries(energy_index, 2),
                           k=0).count() == 0


@pytest.mark.parametrize("qids", [[5, 5], [None, 1]])
def test_search_energy_rejects_duplicate_or_null_query_ids(energy_index,
                                                           qids):
    """Contract: query ids label output rows, so a repeated or null id
    raises (with a repeated id two queries' top k merged into one)."""
    Q = _sf_queries(energy_index, 2)
    with pytest.raises(ValueError, match="duplicate or null query_id"):
        E.search_energy(energy_index, Q, k=3, query_ids=qids)


# ---- the distributed diffusion tier against the driver tier ----


def test_diffuse_chunked_matches_driver_at_sf0001(spark, sf_items,
                                                  monkeypatch):
    """Distributed spool tier vs exact driver tier on a REAL graph
    (500 items, sf0.001 embeddings), 2 steps: both tiers run one exact
    fp64 step in one segment order, so they are equal. (The name
    predates the removal of feature chunking; the sf0.001 pin it
    carried is kept.)"""
    gp = GraphParams(eps=0.9, k=10, topk=5, p=2.0)
    edges = knn_ops.knn_edges(sf_items, gp, strategy="exact")
    a = E.diffuse(sf_items, edges, eta=0.05, steps=2)
    got_a = {r["item_id"]: np.array(r["features"]) for r in a.collect()}
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    info: dict = {}
    b = E.diffuse(sf_items, edges, eta=0.05, steps=2, info=info)
    got_b = {r["item_id"]: np.array(r["features"]) for r in b.collect()}
    assert info["plan"] == "spool"
    assert set(got_a) == set(got_b)
    for i in got_a:
        assert np.array_equal(got_a[i], got_b[i]), i


def test_diffuse_distributed_default_fp32(spark, test0_items_df,
                                          monkeypatch):
    """The distributed tier's DEFAULT plan, run for several steps, must
    equal the driver tier's: both run one exact fp64 step in one
    segment order. (The name predates the removal of the fp32 message
    default; the 3-step default-path pin it carried is kept.)"""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = knn_ops.knn_edges(test0_items_df, gp, strategy="exact")
    a = E.diffuse(test0_items_df, edges, eta=0.1, steps=3)
    got_a = {r["item_id"]: np.array(r["features"]) for r in a.collect()}
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    info: dict = {}
    b = E.diffuse(test0_items_df, edges, eta=0.1, steps=3, info=info)
    got_b = {r["item_id"]: np.array(r["features"]) for r in b.collect()}
    assert info["tier"] == "distributed"
    assert set(got_a) == set(got_b)
    for i in got_a:
        assert np.array_equal(got_a[i], got_b[i]), i


def test_fp32_messages_high_degree_star(spark, monkeypatch):
    """High-degree pin (the name predates the removal of fp32
    messages): on a deg=299 star the distributed spool tier sums the
    hub's 299 contributions in fp64, so one step matches the exact
    numpy step at rtol 1e-9 on the hub and every leaf."""
    rng = np.random.default_rng(11)
    n, f = 300, 8
    X = rng.standard_normal((n, f))
    items = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        schema="item_id long, features array<double>")
    w = rng.uniform(0.5, 1.0, n - 1)
    edges = spark.createDataFrame(
        [(0, j, float(w[j - 1])) for j in range(1, n)],
        schema="src long, dst long, weight double")
    eta = 0.001  # keep the hub update contractive at deg≈300
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    info: dict = {}
    out = E.diffuse(items, edges, eta, steps=1, info=info)
    assert info["plan"] == "spool"
    got = np.stack([r["features"] for r in
                    out.orderBy("item_id").collect()])
    # exact fp64: x' = x − η(Dx − Wx)
    W = np.zeros((n, n))
    W[0, 1:] = w
    W[1:, 0] = w
    deg = W.sum(axis=1)
    exact = X - eta * (deg[:, None] * X - W @ X)
    np.testing.assert_allclose(got, exact, rtol=1e-9)
