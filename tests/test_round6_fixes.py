"""Round-6 contract fixes: diffuse input validation (ADVICE r5),
empty-corpus diffusion, and λτ-graph reuse between the standard and
energy builds. The batched search_energy and save/load tests live in
test_energy.py."""

import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as KNN
from pyarrowspace_spark.params import EnergyParams, GraphParams

GP = GraphParams(eps=0.9, k=4, topk=5, p=2.0)
EP = EnergyParams(optical_tokens=3, eta=0.05, steps=2, trim_quantile=0.1)


def _edges_of(spark, items_df):
    return KNN.knn_edges(items_df, GP, strategy="exact")


def test_diffuse_rejects_alien_edge_ids(spark, test0_items_df):
    """diffuse is a public operator: an edge endpoint absent from the
    items must raise KeyError (positions_of), never silently gather the
    wrong row (ADVICE r5 medium — bare searchsorted did exactly that)."""
    edges = spark.createDataFrame(
        [(0, 999, 0.5)], schema="src long, dst long, weight double")
    with pytest.raises(KeyError, match="absent"):
        E.diffuse(test0_items_df, edges, eta=0.05, steps=1).collect()


def test_diffuse_empty_items_is_identity(spark):
    """steps>0 over an empty corpus returns an empty frame instead of
    crashing on first() -> None (ADVICE r5 low)."""
    items = spark.createDataFrame([], schema="item_id long, features array<double>")
    edges = spark.createDataFrame([], schema="src long, dst long, weight double")
    out = E.diffuse(items, edges, eta=0.05, steps=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["item_id", "features"]


def test_diffuse_driver_tier_returns_scan_not_tasks(spark, test0_items_df):
    """The driver tier hands X back via a scratch parquet scan
    (matrix_to_frame) which — since round 7 — is eagerly absorbed into
    Spark block storage so the scratch files can be reclaimed at once.
    The contract this pins: the plan must NEVER be a driver-
    parallelized LocalTableScan whose tasks embed the matrix (the 12 MB
    task-binary / non-Arrow row-verifier pathology)."""
    edges = _edges_of(spark, test0_items_df)
    out = E.diffuse(test0_items_df, edges, eta=0.05, steps=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "Scan ExistingRDD" in plan or "Scan parquet" in plan \
        or "FileScan" in plan


def test_build_energy_reuses_external_edges(spark, test0_items_df):
    """build_energy(edges=precomputed) must produce the identical index
    to the internal graph build — the bench/catalog share one λτ-graph
    between the standard and energy indexes on this contract."""
    idx_a = E.build_energy(test0_items_df, EP, GP)
    pre = _edges_of(spark, test0_items_df)
    idx_b = E.build_energy(test0_items_df, EP, GP, edges=pre)

    def _sig(idx):
        items = {
            (r["item_id"], round(r["lambda"], 9), round(r["e_raw"], 9),
             r["centroid_id"])
            for r in idx.items.select(
                "item_id", "lambda", "e_raw", "centroid_id").collect()
        }
        cents = {
            (r["centroid_id"], r["n_members"], round(r["lambda_c"], 9))
            for r in idx.centroids.select(
                "centroid_id", "n_members", "lambda_c").collect()
        }
        return items, cents

    assert _sig(idx_a) == _sig(idx_b)


def test_build_with_auto_params_sf001():
    """r5 brief #8: graph_params='auto' self-tunes k (connectivity
    rule, 2·ln n) and eps (sample-calibrated rectified-cosine k-NN
    quantile) and produces a non-degenerate index on the real corpus
    — eps is unknown at a new corpus scale, the build finds it."""
    import math

    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.dimred import auto_graph_params
    from pyarrowspace_spark.session import get_spark
    from pyarrowspace_spark.sources import loaders

    spark = get_spark("pyarrowspace-spark-tests", shuffle_partitions=8)
    items = loaders.items_from_embeddings(
        spark, "/root/testdata/sf0.01").select("item_id", "features")
    n = items.count()
    params = auto_graph_params(items)
    assert params.k == round(2.0 * math.log(n))
    assert params.topk == params.k
    assert 0.0 < params.eps <= 1.0
    assert params.sigma == pytest.approx(params.eps * 0.5)

    idx = ArrowSpaceBuilder.build(items, "auto")
    assert idx.params.to_dict() == params.to_dict()
    assert idx.tau_synth > 0.0  # non-degenerate spectrum
    lam = idx.items.select("lambda").limit(5).collect()
    assert all(r["lambda"] > 0 for r in lam)
    # every node keeps ≥1 edge under the calibrated eps
    assert idx.nnodes == n

    with pytest.raises(ValueError, match="auto"):
        ArrowSpaceBuilder.build(items, "autotune")


def test_percentile_tier_switch(spark):
    """functions.stats.percentile_expr: exact (oracle-parity) below
    the ceiling, Greenwald-Khanna approx beyond — the exact aggregate's
    per-distinct-double state is an OOM at billions of edges."""
    from pyarrowspace_spark.functions import stats

    df = spark.range(10_001).select(
        (F.col("id").cast("double") / 10_000.0).alias("w"))
    exact = df.select(stats.percentile_expr("w", 0.25, 10_001)).first()[0]
    assert exact == pytest.approx(0.25, abs=1e-12)
    approx = df.select(
        stats.percentile_expr("w", 0.25, stats.EXACT_PERCENTILE_MAX + 1)
    ).first()[0]
    assert approx == pytest.approx(0.25, abs=1e-3)
    # None = caller-known-small -> exact
    assert df.select(
        stats.percentile_expr("w", 0.25, None)).first()[0] == exact
