"""The driver tier of `build_energy`: one X collect, one edge collect and
one handoff under the one driver-tier rule, `matrix.driver_fits`. Its
Spark-job budget, its priced peak, its parity with the all-spool Spark
flow (above the training cap too), the Spark flow's join- and
window-free split, the `stats.exact_percentile` replay it cuts with, the
`centroid_id` type on every path, one evaluation of the assignment UDF
per `ivf_assign`, the caches a build leaves and the driver diffusion
handoff's partitions."""

import contextlib
import io
import os
import re
import tracemalloc

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.functions import stats
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.operators import simsearch as S
from pyarrowspace_spark.params import EnergyParams, GraphParams

from .test_lsh_recall import SF_DIR

EP = EnergyParams(optical_tokens=16, eta=0.05, steps=2, trim_quantile=0.1)
GP = GraphParams(eps=0.9, k=10, topk=10, p=2.0)


@pytest.fixture(scope="module")
def sf_items(spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    return items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features").persist()


@pytest.fixture(scope="module")
def sf_edges(sf_items):
    """A standard build's graph, persisted and counted, as a pipeline
    building both indexes over one corpus hands it to build_energy."""
    idx = ArrowSpaceBuilder.build(sf_items, GP, strategy="exact")
    idx.edges.count()
    return idx.edges


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _budget_build(spark, sf_items, sf_edges, group):
    def build():
        idx = E.build_energy(sf_items, EP, GP, edges=sf_edges)
        idx.items.count()
        idx.centroids.count()
        return idx

    idx, n_jobs = _jobs(spark, group, build)
    assert idx.diffusion_info == {"tier": "driver", "n_sym_edges": None}
    assert n_jobs <= 8


def test_driver_tier_energy_build_job_budget(spark, sf_items, sf_edges):
    """Guard: a driver-tier build_energy(edges=...) plus the items and
    centroids counts runs at most 8 Spark jobs (one census, one X
    collect, one edge collect, one handoff, two counts); the Spark flow
    ran 40-odd."""
    _budget_build(spark, sf_items, sf_edges, "energy-driver-budget")


def test_driver_pass_ignores_the_knn_strategy_switch(spark, sf_items,
                                                     sf_edges, monkeypatch):
    """Contract: the kNN strategy switch `EXACT_PATH_MAX_ROWS` below N
    does not move the build off the driver pass (≤ 8 jobs); only
    `matrix.driver_fits` decides. It used to run the hybrid Spark flow
    with driver diffusion, 40-odd jobs."""
    monkeypatch.setattr(K, "EXACT_PATH_MAX_ROWS", 10)
    _budget_build(spark, sf_items, sf_edges, "energy-driver-rowswitch")


def test_default_budget_admits_bench_scale_refuses_1m():
    """Pin (arithmetic): the default 4 GiB budget admits the 78,580×384
    bench build with 1.18M edges (≈1.4 GB priced) and refuses a
    1,000,000×384 build (≈12.3 GB priced before any edge). Diffusion,
    priced at its two N×F copies, keeps the 313,841×384 anchor with
    5.9M edges on the driver (≈4.2 GB), where the build is refused."""
    budget = 4 * 1024**3
    if "SPARK_GRAFT_DIFFUSE_BCAST_MAX" not in os.environ:
        assert M.DRIVER_BUDGET_BYTES == budget
    assert M.driver_price(78_580, 384, 1_180_000) <= budget
    assert M.driver_price(1_000_000, 384, 0) > budget
    assert M.driver_price(1_000_000, 384, 0) == 12_288_000_000
    assert M.driver_price(313_841, 384, 5_924_440) > budget
    assert M.driver_price(313_841, 384, 5_924_440,
                          M.DIFFUSE_X_COPIES) <= budget


def _random_graph(spark, n, nf, n_edges):
    """A persisted random corpus, collected out of id order, and a
    persisted random edge list over it."""
    rng = np.random.default_rng(21)
    X = rng.standard_normal((n, nf))
    ids = rng.permutation(n) * 3 + 1
    items = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in zip(ids, X)],
        "item_id long, features array<double>").persist()
    src, dst = rng.integers(0, n, (2, n_edges))
    edges = spark.createDataFrame(
        [(int(ids[a]), int(ids[b]), float(w)) for a, b, w in
         zip(src, dst, rng.uniform(0.1, 1.0, n_edges))],
        "src long, dst long, weight double").persist()
    assert M.census(items, edges) == (n, nf, n_edges)
    return items, edges


def _traced_peak(fn) -> int:
    fn()  # warm
    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_driver_pass_peak_within_price(spark):
    """Guard: the driver pass's traced peak (collects, diffusion, L_F,
    λ blocks, quantizer, split, handoff) stays within its price,
    `matrix.driver_price(N, F, E)`, + 1 MiB, on a corpus whose X
    (N·F·8 = 1.5 MB) is larger than the slack."""
    n, nf, n_edges = 2000, 96, 6000
    items, edges = _random_graph(spark, n, nf, n_edges)
    peak = _traced_peak(
        lambda: E._build_energy_driver(items, edges, EP, GP, 16))
    price = M.driver_price(n, nf, n_edges)
    assert peak <= price + (1 << 20), (peak, price)
    items.unpersist()
    edges.unpersist()


def test_driver_diffusion_peak_within_price(spark):
    """Guard: driver diffusion's traced peak (collects, steps, handoff)
    stays within its price at two N×F copies,
    `matrix.driver_price(N, F, E, DIFFUSE_X_COPIES)`, + 1 MiB. The
    step loop held a third copy while the next step's W·X was
    allocated (3.0 copies traced at N=20,000, F=96)."""
    n, nf, n_edges = 4000, 96, 4000
    items, edges = _random_graph(spark, n, nf, n_edges)
    peak = _traced_peak(lambda: E._diffuse_driver(
        items, edges, 0.05, 3, "item_id", "features"))
    price = M.driver_price(n, nf, n_edges, M.DIFFUSE_X_COPIES)
    assert peak <= price + (1 << 20), (peak, price)
    items.unpersist()
    edges.unpersist()


def _collect(idx):
    it = idx.items.toPandas().sort_values("item_id")
    ce = idx.centroids.toPandas().sort_values("centroid_id")
    return it, ce


def _rel(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(np.max(np.abs(a - b)) / np.max(np.abs(a)))


def test_driver_tier_matches_spark_flow(spark, sf_items, sf_edges,
                                        monkeypatch):
    """Contract: with the tier rule forced off, the all-spool Spark flow
    (spool diffusion, spool L_F) builds the same index: λ, e_raw, τ and
    L_F within 1e-12 relative, the same centroid_id per item, centroid
    moments within 1e-14 relative, and equal search_energy rows."""
    drv = E.build_energy(sf_items, EP, GP, edges=sf_edges)
    monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
    flow = E.build_energy(sf_items, EP, GP, edges=sf_edges)
    assert flow.diffusion_info["tier"] == "distributed"
    assert flow.diffusion_info["plan"] == "spool"

    assert _rel(drv.feature_laplacian, flow.feature_laplacian) <= 1e-12
    assert drv.tau_synth == pytest.approx(flow.tau_synth, rel=1e-12)
    a, b = _collect(drv), _collect(flow)
    assert a[0]["item_id"].tolist() == b[0]["item_id"].tolist()
    for col in ("lambda", "e_raw"):
        assert _rel(a[0][col], b[0][col]) <= 1e-12
    assert a[0]["centroid_id"].tolist() == b[0]["centroid_id"].tolist()
    assert a[1]["centroid_id"].tolist() == b[1]["centroid_id"].tolist()
    assert a[1]["n_members"].tolist() == b[1]["n_members"].tolist()
    for col in ("lambda_c", "e_c", "disp_c"):
        assert _rel(a[1][col], b[1][col]) <= 1e-14
    assert _rel(np.stack(a[1]["center"]), np.stack(b[1]["center"])) <= 1e-14
    assert drv.edges.count() == flow.edges.count()

    q = np.stack(a[0]["features"].to_numpy()[[3, 70, 200]]) * 1.05
    rows = [E.search_energy(ix, q, k=7).orderBy("query_id", "rank")
            .select("query_id", "item_id", "rank").collect()
            for ix in (drv, flow)]
    assert rows[0] == rows[1] and len(rows[0]) == 21


def test_spark_flow_runs_two_censuses(spark, sf_items, sf_edges,
                                      monkeypatch):
    """Guard: the Spark flow takes (N, F, E) once for the tier rule and
    diffuses with those counts; only the feature Laplacian's census
    (on the diffused frame and the trimmed edges) runs again. Its
    diffusion used to repeat the first census over the same frames."""
    calls = []
    real = M.census

    def _counted(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(M, "census", _counted)
    monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
    idx = E.build_energy(sf_items, EP, GP, edges=sf_edges)
    assert len(calls) == 2
    assert idx.diffusion_info["plan"] == "spool"
    assert len(idx.diffusion_info["step_sec"]) == EP.steps


def test_tiers_draw_the_same_training_rows_above_the_cap(
        spark, sf_items, sf_edges, monkeypatch):
    """Contract: above COMPRESS_MAX_TRAIN the driver pass trains the
    quantizer on `deterministic_cap`'s sample and splits a token on its
    first members by xxhash64 of the id, as the Spark flow does, so
    both give the same centroid_id and centres (within 1e-14: member
    order inside a mean). The driver pass used to train and split on
    every row."""
    n = sf_items.count()
    cap = n // 3
    monkeypatch.setattr(E, "COMPRESS_MAX_TRAIN", cap)
    ep = EnergyParams(optical_tokens=2, eta=0.05, steps=2,
                      trim_quantile=0.1)
    drv = E.build_energy(sf_items, ep, GP, edges=sf_edges)
    assert drv.diffusion_info["tier"] == "driver"
    monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
    flow = E.build_energy(sf_items, ep, GP, edges=sf_edges)
    a, b = _collect(drv), _collect(flow)
    # a token split, and it held more members than the cap
    assert (b[0]["centroid_id"] >= 2).sum() > cap
    assert a[0]["centroid_id"].tolist() == b[0]["centroid_id"].tolist()
    assert a[1]["centroid_id"].tolist() == b[1]["centroid_id"].tolist()
    assert _rel(np.stack(a[1]["center"]), np.stack(b[1]["center"])) <= 1e-14


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_spark_flow_split_runs_no_window_or_join(spark, sf_items, sf_edges,
                                                 monkeypatch):
    """Guard: the Spark flow moves a split token's members in one
    narrow pandas UDF (`_nearest_child`, the driver pass's rule), so
    the items' plan holds no Window and no join. It used to rank each
    member's two children in a window over a broadcast join and update
    the members with a left join."""
    monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
    idx = E.build_energy(sf_items, EP, GP, edges=sf_edges)
    assert idx.centroids.agg(F.max("centroid_id")).first()[0] >= 16
    plan = _plan(idx.items)
    assert "InMemoryRelation" in plan
    assert not re.search(r"Window|Join", plan)


def test_driver_tier_rejects_duplicate_ids(spark):
    """Pin: the tier's id sort raises on a repeated id, as the driver
    diffusion it replaces did."""
    rows = [(i % 9, [float(np.sin(i + j)) for j in range(8)])
            for i in range(10)]
    items = spark.createDataFrame(rows, "item_id long, features array<double>")
    edges = spark.createDataFrame([(0, 1, 0.5), (2, 3, 0.7)],
                                  "src long, dst long, weight double")
    with pytest.raises(ValueError, match="must be unique"):
        E.build_energy(items, EP, GP, edges=edges)


@pytest.mark.parametrize("q", [0.1, 0.5, 0.9])
def test_exact_percentile_is_sparks_percentile(spark, q):
    """Contract: `stats.exact_percentile` equals Spark's exact
    `percentile` bit for bit on doubles with ties, where numpy's lerp
    and lo + frac·(hi − lo) can each differ by an ulp."""
    rng = np.random.default_rng(11)
    for n in (1, 2, 7, 40, 101, 333):
        v = np.round(rng.random(n) * 3.7, 2)  # two decimals: many ties
        v[: n // 3] = v[0]
        df = spark.createDataFrame([(float(x),) for x in v], "w double")
        want = df.select(F.expr(f"percentile(w, {q})")).first()[0]
        assert stats.exact_percentile(v, q) == want
    assert stats.exact_percentile([], q) is None


def test_centroid_id_is_bigint_on_every_path(spark, sf_items, sf_edges,
                                            monkeypatch):
    """Pin: items.centroid_id is bigint whether or not a token splits,
    on both tiers and after extend_energy (a split-free Spark build
    used to give int: explode of the assignment UDF's array<int>)."""
    new = sf_items.limit(4).select(
        (F.col("item_id") + 100_000).alias("item_id"), "features")
    ep = EnergyParams(optical_tokens=8, eta=0.05, steps=1,
                      split_quantile=1.0)
    for forced in (False, True):
        if forced:
            monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
        idx = E.build_energy(sf_items, ep, GP, edges=sf_edges)
        for frame in (idx.items, idx.extend(new).items):
            assert frame.schema["centroid_id"].dataType == T.LongType()


def _cells_evals(df) -> int:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return len(re.findall(r"Arguments: \[cells\(", buf.getvalue()))


def test_ivf_assign_udf_evaluated_once_per_call(spark, sf_items, sf_edges,
                                                monkeypatch):
    """Guard: no filter Spark infers over the assignment UDF's cells
    column (`size(cells) > 0` under explode, `isnotnull` on the join
    key) re-evaluates the UDF: ivf_cosine_topk's two ivf_assign calls
    plan two evaluations, the Spark-flow energy items one."""
    C = np.stack(sf_items.orderBy("item_id").limit(6).toPandas()["features"])
    queries = sf_items.limit(3).select(F.col("item_id").alias("query_id"),
                                       "features")
    assert _cells_evals(S.ivf_cosine_topk(sf_items, queries, 5, C,
                                          n_probe=2)) == 2
    monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
    idx = E.build_energy(sf_items, EnergyParams(
        optical_tokens=8, eta=0.05, steps=1, split_quantile=1.0), GP,
        edges=sf_edges)
    assert _cells_evals(idx.items) == 1


def test_spark_flow_on_no_edges_raises_like_the_driver_pass(
        spark, sf_items, monkeypatch):
    """Contract: with trim_quantile > 0 and no edges, both tiers raise
    the degenerate-index ValueError (the Spark flow's NULL trim cut used
    to raise TypeError)."""
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="degenerate energy index"):
        E.build_energy(sf_items, EP, GP, edges=empty)
    monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
    with pytest.raises(ValueError, match="degenerate energy index"):
        E.build_energy(sf_items, EP, GP, edges=empty)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_energy_build_leaves_only_the_index_caches(spark, sf_items,
                                                   sf_edges, monkeypatch):
    """Contract: a build leaves at most three cached frames, the ones
    the index returns (items, centroids, trimmed edges): the driver
    pass that builds its own graph drops its input and kNN caches, and
    the Spark flow its four intermediate N×F caches (base, diffused,
    the λ components, the λ-indexed items)."""
    before = _persistent_rdds(spark)
    idx = E.build_energy(sf_items, EP, GP)
    idx.items.count()
    assert idx.diffusion_info["tier"] == "driver"
    assert _persistent_rdds(spark) - before <= 3
    for frame in (idx.items, idx.centroids, idx.edges):
        frame.unpersist()

    monkeypatch.setattr(M, "driver_fits", lambda *a, **k: False)
    before = _persistent_rdds(spark)
    idx = E.build_energy(sf_items, EP, GP, edges=sf_edges)
    idx.items.count()
    assert idx.diffusion_info["plan"] == "spool"
    assert _persistent_rdds(spark) - before <= 3


@pytest.mark.skipif(os.cpu_count() == 1, reason="needs two cores")
def test_driver_diffusion_hands_back_parallel_partitions(spark, sf_items,
                                                         sf_edges):
    """Guard: driver diffusion hands X back as one file per shuffle
    partition, so downstream passes read it on several tasks (one
    parquet file of one row group came back as partitions of
    [0, N, 0] rows)."""
    assert spark.sparkContext.defaultParallelism > 1
    info: dict = {}
    out = E.diffuse(sf_items, sf_edges, eta=0.05, steps=2, info=info)
    assert info["tier"] == "driver"
    sizes = out.rdd.glom().map(len).collect()
    assert sum(sizes) == sf_items.count()
    assert sum(1 for c in sizes if c) > 1, sizes
