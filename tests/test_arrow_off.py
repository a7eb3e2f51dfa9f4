"""Arrow-off session gate (r5 brief #2).

The driver's correctness session does NOT enable
``spark.sql.execution.arrow.pyspark.enabled``, while the repo's
`get_spark` does — so the round-5 regression (numpy float64 elements
rejected by the non-Arrow ``createDataFrame`` row verifier,
`CORRECTNESS_r05.json` energy_diffusion/energy_search) was invisible
to every Arrow-on local gate. This module re-runs the regression's
exact catalog entries, plus one query per ``createDataFrame``-using
module, under a session with Arrow disabled.

Arrow is a RUNTIME conf: flipping it on the shared session is exactly
what the driver divergence looks like, no second JVM needed.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture()
def spark_no_arrow(spark):
    prev = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, "false")
    yield spark
    spark.conf.set(ARROW_KEY, prev)


def test_energy_catalog_entries_without_arrow(spark_no_arrow):
    """The two r5-red rows: driver-tier diffusion and energy search.
    Before the `matrix_to_frame`/pure-python fixes these raise
    PySparkTypeError (DoubleType can not accept numpy.float64)."""
    qs = entry_mod.queries()
    n_diff = qs["energy_diffusion"](spark_no_arrow, SF_DIR).count()
    assert n_diff > 0
    hits = qs["energy_search"](spark_no_arrow, SF_DIR)
    rows = hits.collect()
    assert len(rows) == len(entry_mod.LAMBDA_QIDS) * entry_mod.TOPK
    assert {r["query_id"] for r in rows} == set(entry_mod.LAMBDA_QIDS)


def test_search_and_topology_without_arrow(spark_no_arrow):
    """One entry per remaining createDataFrame-using module:
    operators/search (numpy query promotion), operators/topology
    (ppr init/restart frames), plus the shared-index build path."""
    qs = entry_mod.queries()
    assert qs["lambda_search"](spark_no_arrow, SF_DIR).count() > 0
    assert qs["ppr"](spark_no_arrow, SF_DIR).count() > 0


def test_matrix_to_frame_without_arrow(spark_no_arrow):
    """matrix_to_frame hands a numpy matrix to Spark as a parquet scan
    — no row verifier in the path, so numpy dtypes can't break it."""
    from pyarrowspace_spark.functions.matrix import matrix_to_frame

    rng = np.random.default_rng(0)
    ids = np.arange(10, dtype=np.int64) * 7
    X = rng.standard_normal((10, 5))
    df = matrix_to_frame(spark_no_arrow, ids, X, "item_id", "features")
    assert [f.name for f in df.schema.fields] == ["item_id", "features"]
    rows = {r["item_id"]: r["features"] for r in df.collect()}
    assert set(rows) == set(ids.tolist())
    np.testing.assert_allclose(rows[7], X[1], rtol=0, atol=0)


def test_builder_save_load_without_arrow(spark_no_arrow, tmp_path):
    """builder.save writes the F×F Laplacian through
    `matrix.laplacian_to_parquet`, which must work under a non-Arrow
    session and store it bit for bit."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder, ArrowSpaceIndex

    rows = [(i, [float(i == j) * 2.0 + 0.1 * j for j in range(6)])
            for i in range(8)]
    items = spark_no_arrow.createDataFrame(
        rows, schema="item_id long, features array<double>")
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.99, "k": 3, "topk": 3, "p": 2.0})
    path = str(tmp_path / "idx")
    idx.save(path)
    back = ArrowSpaceIndex.load(spark_no_arrow, path)
    assert np.array_equal(back.feature_laplacian, idx.feature_laplacian)
