"""The driver tier of `build_energy`: one X collect, one edge collect and
one handoff below `energy.driver_tier`. Its Spark-job budget, its
parity with the Spark flow, the `stats.exact_percentile` replay it cuts
with, the `centroid_id` type on every path, and one evaluation of the
assignment UDF per `ivf_assign`."""

import contextlib
import io
import re

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.functions import stats
from pyarrowspace_spark.operators import energy as E
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


def test_driver_tier_energy_build_job_budget(spark, sf_items, sf_edges):
    """Guard: a driver-tier build_energy(edges=...) plus the items and
    centroids counts runs at most 8 Spark jobs (one census, one X
    collect, one edge collect, one handoff, two counts); the Spark flow
    ran 40-odd."""

    def build():
        idx = E.build_energy(sf_items, EP, GP, edges=sf_edges)
        idx.items.count()
        idx.centroids.count()
        return idx

    idx, n_jobs = _jobs(spark, "energy-driver-budget", build)
    assert idx.diffusion_info == {"tier": "driver", "n_sym_edges": None}
    assert n_jobs <= 8


def _collect(idx):
    it = idx.items.toPandas().sort_values("item_id")
    ce = idx.centroids.toPandas().sort_values("centroid_id")
    return it, ce


def _rel(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(np.max(np.abs(a - b)) / np.max(np.abs(a)))


def test_driver_tier_matches_spark_flow(spark, sf_items, sf_edges,
                                        monkeypatch):
    """Contract: with the tier rule forced off, the Spark flow builds
    the same index: λ, e_raw, τ and L_F within 1e-12 relative, the
    same centroid_id per item, centroid moments within 1e-14 relative,
    and equal search_energy rows."""
    drv = E.build_energy(sf_items, EP, GP, edges=sf_edges)
    monkeypatch.setattr(E, "driver_tier", lambda *args: False)
    flow = E.build_energy(sf_items, EP, GP, edges=sf_edges)
    assert flow.diffusion_info["tier"] == "distributed"

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
            monkeypatch.setattr(E, "driver_tier", lambda *args: False)
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
    monkeypatch.setattr(E, "driver_tier", lambda *args: False)
    idx = E.build_energy(sf_items, EnergyParams(
        optical_tokens=8, eta=0.05, steps=1, split_quantile=1.0), GP,
        edges=sf_edges)
    assert _cells_evals(idx.items) == 1
