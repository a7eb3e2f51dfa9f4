"""The λτ index build after the graph: the LSH pair stage's one
partition-wide bucket kernel (its carry across Arrow batches, its plan,
one top-k per source over one or several band groups), the index
build's one driver λ pass under `matrix.driver_fits` (its parity with
`components_with_median` and with the Spark flow, its Spark-job budget),
the small driver frames that go to Spark through Arrow, the U spool
from a frame that is not a proven scan, and the caches a build leaves."""

import numpy as np
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from pyarrowspace_spark import spool
from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.functions import stats
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.operators import lambda_index as L
from pyarrowspace_spark.operators import search as search_mod
from pyarrowspace_spark.params import EnergyParams, GraphParams

from .test_lsh_recall import SF_DIR

GP = GraphParams(eps=0.9, k=10, topk=10, p=2.0)


@pytest.fixture(scope="module")
def sf_items(spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    return items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features").persist()


def _pairs(df) -> list:
    return sorted((r["src"], r["dst"], r["dist"]) for r in df.collect())


def _edges(df) -> list:
    return sorted(tuple(r) for r in
                  df.select("src", "dst", "dist", "weight").collect())


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("k", [10, None])
def test_bucket_kernel_carries_buckets_across_batches(spark, sf_items, k):
    """Contract: with 7-row Arrow batches nearly every bucket (~60 rows
    at 3 bits) is cut by a batch boundary; the kernel carries the cut
    bucket into the next batch, so the pairs equal the default run's."""
    kw = dict(eps=0.9, k=k, n_bits=3, n_bands=4)
    default = _pairs(K.pairwise_candidates_lsh(
        sf_items, "item_id", "features", **kw))
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        small = _pairs(K.pairwise_candidates_lsh(
            sf_items, "item_id", "features", **kw))
    finally:
        spark.conf.set(conf, old)
    assert small == default and len(default) > 1000


def _row_loop_topk(dist, bad, k):
    """The exact scan's former per-row selection: each row's in-ball
    columns, capped at the k smallest by lexsort((column, dist))."""
    out = []
    for r in range(dist.shape[0]):
        cand = np.nonzero(~bad[r])[0]
        if k and cand.size > k:
            cand = cand[np.lexsort((cand, dist[r, cand]))[:k]]
        out += [(r, int(c), float(dist[r, c])) for c in cand]
    return out


def test_in_ball_topk_matches_the_row_loop():
    """Pin: `knn._in_ball_topk` keeps, per row, the triples the former
    per-row loop kept, ties at the k-th distance included (quantized
    distances make them common), with NaN distances out."""
    rng = np.random.default_rng(0)
    for _ in range(500):
        m, n = int(rng.integers(1, 20)), int(rng.integers(1, 40))
        dist = np.round(rng.random((m, n)) * 5) / 5
        dist[rng.random((m, n)) < 0.05] = np.nan
        bad = ~(dist <= rng.random())
        k = int(rng.integers(0, 10))
        rows, cols, dv = K._in_ball_topk(dist, bad, k)
        got = sorted(zip(rows.tolist(), cols.tolist(), dv.tolist()))
        assert got == sorted(_row_loop_topk(dist, bad, k))


def test_driver_pass_rows_do_not_move_with_the_blas_pool():
    """Contract: the driver λ pass, split over the caller's BLAS pool,
    gives each row the values `lambda_kernel` gives it in 7-row calls,
    with ==, and leaves the pool's width as it found it."""
    rng = np.random.default_rng(3)
    X = rng.standard_normal((2 * L.DRIVER_BLOCK + 37, 96))
    A = rng.standard_normal((96, 96))
    lf = A @ A.T
    api = M._BlasPin.api
    width = api[0]() if api else None
    e_raw, g, _ = L.driver_components(X, lf)
    assert (api[0]() if api else None) == width
    for lo in range(0, len(X), 7):
        e7, g7, _ = L.lambda_kernel(X[lo:lo + 7], lf, tau=1.0)
        assert e_raw[lo:lo + 7].tolist() == e7.tolist()
        assert g[lo:lo + 7].tolist() == g7.tolist()


def test_lsh_u_spool_from_non_scan_frame(spark, sf_items, tmp_path,
                                         monkeypatch):
    """Contract: an LSH build over a frame that is not a proven parquet
    scan (its U spool scattered by the tasks), at 7-row Arrow batches
    and at the default, gives the edges of the proven-scan build (its U
    spool streamed from the corpus parquet), bit for bit."""
    p = str(tmp_path / "corpus.parquet")
    sf_items.write.parquet(p)
    scan = spark.read.parquet(p)
    src = spool.parquet_scan_source(scan, "item_id", "features")
    assert src is not None
    want = _edges(K.knn_edges(scan, GP, strategy="lsh", x_source=src))
    rows = scan.filter("item_id >= 0")
    assert spool.parquet_scan_source(rows, "item_id", "features") is None
    streamed = []
    real = spool.from_parquet
    monkeypatch.setattr(spool, "from_parquet",
                        lambda *a, **k: streamed.append(a) or real(*a, **k))
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    got = {}
    for batch in (old, "7"):
        spark.conf.set(conf, batch)
        try:
            got[batch] = _edges(K.knn_edges(rows, GP, strategy="lsh"))
        finally:
            spark.conf.set(conf, old)
    assert streamed == []
    assert got[old] == want and got["7"] == want and len(want) > 1000


def _cached_datasets(spark) -> int:
    """The entries of the session's cache manager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


@pytest.mark.parametrize("flow,rate,want", [("driver", 0.6, 1),
                                            ("spark", None, 2),
                                            ("spark", 0.6, 2)])
def test_build_leaves_only_the_index_caches(spark, sf_items, monkeypatch,
                                            flow, rate, want):
    """Contract: a build leaves cached only what its index reads — the
    edges, and on the Spark flow (budget patched to 0) the λ
    components its items blend — not its input or its sampled graph
    input."""
    if flow == "spark":
        monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    spark.catalog.clearCache()
    try:
        idx = ArrowSpaceBuilder.build(sf_items, GP, strategy="exact",
                                      sample_rate=rate)
        idx.items.count(), idx.edges.count()
        assert _cached_datasets(spark) == want
    finally:
        spark.catalog.clearCache()
        sf_items.persist()


def test_pair_stage_plan_has_no_grouped_pandas_or_join(spark, sf_items,
                                                       monkeypatch):
    """Guard: on a corpus with no oversized bucket the pair stage is one
    exchange, a partition sort and one mapInPandas kernel — no per-bucket
    FlatMapGroupsInPandas and no join against the empty skew census."""
    plans = []
    real = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    out = K.pairwise_candidates_lsh(sf_items, "item_id", "features", eps=0.9,
                                    k=10)
    assert out.count() > 0
    pair_plans = [p for p in plans if "MapInPandas" in p]
    assert len(pair_plans) == 1
    assert "FlatMapGroupsInPandas" not in pair_plans[0]
    assert "Join" not in pair_plans[0]


def test_several_band_groups_give_the_same_edges(spark, sf_items,
                                                 monkeypatch):
    """Contract: one band group's spool is each src's top-k; several
    groups are merged by one more dedupe and top-k. Both give the same
    edge rows, bit for bit."""
    one_info, grp_info = {}, {}
    one = _edges(K.knn_edges(sf_items, GP, strategy="lsh", info=one_info))
    monkeypatch.setattr(K, "LSH_GROUP_BYTES", 500 * 28 * 16 // 3)
    grouped = _edges(K.knn_edges(sf_items, GP, strategy="lsh",
                                 info=grp_info))
    assert one_info["n_groups"] == 1 and grp_info["n_groups"] >= 3
    assert grouped == one and len(one) > 1000


def test_small_driver_frames_skip_python_rows(spark, sf_items, monkeypatch):
    """Guard: the energy driver pass's centroids and the LSH oversized
    census go to Spark from pandas through Arrow, with no PythonRDD (a
    frame of Python rows starts one and a plain Python worker)."""
    made = []
    cls = type(spark)
    real = cls.createDataFrame

    def spy(self, *a, **kw):
        df = real(self, *a, **kw)
        made.append(df._jdf.rdd().toDebugString())
        return df

    monkeypatch.setattr(cls, "createDataFrame", spy)
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)] + [
        (100 + i, [float(x) for x in v]) for i, v in enumerate(np.eye(4)[1:])]
    dup = real(spark, rows, "item_id long, features array<double>")
    monkeypatch.setattr(K, "LSH_BUCKET_MAX", 8)
    K.knn_edges(dup, GraphParams(eps=0.9, k=5, topk=5, p=2.0),
                strategy="lsh", lsh_bits=4, lsh_bands=4).count()
    assert len(made) == 1  # the oversized census
    monkeypatch.undo()

    edges = ArrowSpaceBuilder.build(sf_items, GP, strategy="exact").edges
    eidx = E.build_energy(sf_items, EnergyParams(optical_tokens=16, eta=0.05,
                                                 steps=2), GP, edges=edges)
    made.append(eidx.centroids._jdf.rdd().toDebugString())
    for lineage in made:
        assert "PythonRDD" not in lineage
        assert "ParallelCollectionRDD" in lineage
    assert eidx.centroids.count() >= 16


def test_driver_components_match_the_spark_pass(spark, sf_items):
    """Contract: on the same L_F the driver pass's (e_raw, g) and τ are
    the Spark λ pass's, with ==."""
    edges = K.knn_edges(sf_items, GP, strategy="exact").persist()
    lf = L.feature_laplacian(sf_items, edges, 64)
    comp, median = L.components_with_median(sf_items, lf, None)
    pdf = comp.select("item_id", "_ec.e_raw", "_ec.g").toPandas()
    pdf = pdf.sort_values("item_id")
    s_ids, X = M.collect_id_matrix(sf_items.orderBy("item_id"), "item_id",
                                   "features")
    e_raw, g, tau = L.driver_components(X, lf)
    assert pdf["item_id"].tolist() == s_ids.tolist()
    assert e_raw.tolist() == pdf["e_raw"].tolist()
    assert tau == median == stats.exact_percentile(pdf["e_raw"], 0.5)
    assert g.tolist() == pdf["g"].tolist()
    comp.unpersist()
    edges.unpersist()


def test_lambda_does_not_move_with_the_layout(spark, sf_items):
    """Contract: an item's (e_raw, g, λ) does not depend on the rows it
    is computed with. The Spark λ pass gives == values at
    maxRecordsPerBatch 1, 7 and the default, over 1 and 4 partitions;
    the driver pass gives the same, also from a shuffled edge frame;
    a query searched alone gets the λ and scores it gets among 49
    others. This rests on the BLAS build: at one thread count its
    dgemm rounds a row alike in any even-row call. A multi-threaded
    dgemm rounds differently from a single-threaded one, so the driver
    pass runs in a Python worker here, at the λ pass's thread count;
    the query λ calls are below OpenBLAS's threading size."""
    edges = K.knn_edges(sf_items, GP, strategy="exact").persist()
    lf = L.feature_laplacian(sf_items, edges, 64)
    tau = 0.62
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    want = None
    for parts in (1, 4):
        for batch in ("1", "7", default):
            spark.conf.set(key, batch)
            try:
                got = (L.with_lambda(sf_items.repartition(parts), lf, tau)
                       .select("item_id", "e_raw", "g", "lambda")
                       .toPandas().sort_values("item_id"))
            finally:
                spark.conf.set(key, default)
            got = [got[c].tolist() for c in ("item_id", "e_raw", "g",
                                             "lambda")]
            if want is None:
                want = got
            assert got == want, (parts, batch)
    s_ids, X = M.collect_id_matrix(sf_items.orderBy("item_id"), "item_id",
                                   "features")
    assert s_ids.tolist() == want[0]
    epdf = edges.select("src", "dst", "weight").toPandas()
    shuffled = spark.createDataFrame(
        epdf.sample(frac=1.0, random_state=5).reset_index(drop=True))
    lf_shuffled = L.feature_laplacian(sf_items, shuffled, 64)
    assert np.array_equal(lf_shuffled, lf)
    for m in (lf, lf_shuffled):
        e_raw, g, _ = spark.sparkContext.parallelize([0], 1).map(
            lambda _, m=m: L.driver_components(X, m)).collect()[0]
        assert e_raw.tolist() == want[1] and g.tolist() == want[2]
    Q = X[:50] * 1.05
    lam = L.lambda_for_vectors(Q, lf, tau)
    among = search_mod.search(sf_items, lf, Q, tau, 5).toPandas()
    for j in (0, 17, 49):
        assert L.lambda_for_vectors(Q[j:j + 1], lf, tau).tolist() == [lam[j]]
        alone = search_mod.search(sf_items, lf, Q[j:j + 1], tau, 5
                                  ).toPandas().sort_values("rank")
        mine = among[among["query_id"] == j].sort_values("rank")
        assert alone["item_id"].tolist() == mine["item_id"].tolist()
        assert alone["score"].tolist() == mine["score"].tolist()
    edges.unpersist()


def _index(idx):
    pdf = idx.items.select("item_id", "lambda", "e_raw", "g").toPandas()
    return pdf.sort_values("item_id").reset_index(drop=True)


def _rel(a, b) -> float:
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(np.max(np.abs(a - b)) / np.max(np.abs(a)))


@pytest.mark.parametrize("strategy", ["exact", "lsh"])
def test_driver_pass_matches_the_spark_flow(spark, sf_items, strategy,
                                            monkeypatch):
    """Contract: an index build's one driver λ pass and its Spark flow
    (the budget patched to 0) build the same index: equal edges, λ,
    e_raw, g, τ and L_F within 1e-12 relative, and the same item
    columns and types."""
    drv = ArrowSpaceBuilder.build(sf_items, GP, strategy=strategy)
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    flow = ArrowSpaceBuilder.build(sf_items, GP, strategy=strategy)
    assert drv.items.schema.simpleString() == (
        flow.items.schema.simpleString())
    assert _edges(drv.edges) == _edges(flow.edges)
    a, b = _index(drv), _index(flow)
    assert a["item_id"].tolist() == b["item_id"].tolist()
    for col in ("lambda", "e_raw", "g"):
        assert _rel(a[col], b[col]) <= 1e-12
    assert drv.tau_synth == pytest.approx(flow.tau_synth, rel=1e-12)
    assert _rel(drv.feature_laplacian, flow.feature_laplacian) <= 1e-12


def test_driver_pass_peak_within_price(spark):
    """Guard: the index build's driver λ pass (collects, L_F, λ blocks,
    handoff) stays within its price, `matrix.driver_price(N, F, E)`,
    + 1 MiB, on a corpus whose X (N·F·8 = 1.5 MB) is larger than the
    slack."""
    from pyarrowspace_spark.builder import _lambda_on_driver

    from .test_energy_driver_tier import _random_graph, _traced_peak

    n, nf, n_edges = 2000, 96, 6000
    items, edges = _random_graph(spark, n, nf, n_edges)
    peak = _traced_peak(lambda: _lambda_on_driver(items, edges))
    price = M.driver_price(n, nf, n_edges)
    assert peak <= price + (1 << 20), (peak, price)
    items.unpersist()
    edges.unpersist()


def test_sampled_build_takes_the_driver_pass(spark, sf_items, monkeypatch):
    """Contract: a sampled build's driver pass computes L_F over the
    sampled graph and λ for every item, as its Spark flow does."""
    drv = ArrowSpaceBuilder.build(sf_items, GP, strategy="exact",
                                  sample_rate=0.6, seed=3)
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    flow = ArrowSpaceBuilder.build(sf_items, GP, strategy="exact",
                                   sample_rate=0.6, seed=3)
    a, b = _index(drv), _index(flow)
    assert len(a) == sf_items.count()
    assert a["item_id"].tolist() == b["item_id"].tolist()
    assert _rel(a["lambda"], b["lambda"]) <= 1e-12
    assert _rel(drv.feature_laplacian, flow.feature_laplacian) <= 1e-12


@pytest.mark.parametrize("strategy,budget", [("lsh", 22), ("exact", 15)])
def test_index_build_job_budget(spark, sf_items, strategy, budget):
    """Guard: an index build plus its items and edges counts on sf0.001
    runs at most `budget` Spark jobs. With a per-bucket pandas kernel,
    the empty skew census's join and a Spark λ pass with its median the
    same builds ran 26–27 (LSH) and 16 (exact)."""
    def build():
        idx = ArrowSpaceBuilder.build(sf_items, GP, strategy=strategy)
        idx.items.count()
        idx.edges.count()
        return idx

    _, n_jobs = _jobs(spark, f"index-budget-{strategy}", build)
    assert n_jobs <= budget
