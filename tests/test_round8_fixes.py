"""Round-8 ADVICE fixes: suffix-aware size parsing everywhere a byte
budget is read ("1p" capacity), and the diffusion driver tier's
edge-collect eligibility (the X collect fitting maxResultSize does not
imply the symmetrized edge collect does)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.params import EnergyParams, GraphParams

GP = GraphParams(eps=0.9, k=4, topk=5, p=2.0)


def test_parse_size_bytes_suffixes_and_fallback():
    assert M.parse_size_bytes("32g", default=1) == 32 * 1024**3
    assert M.parse_size_bytes("512M", default=1) == 512 * 1024**2
    assert M.parse_size_bytes("1p", default=1) == 1024**5
    assert M.parse_size_bytes("1536kb", default=1) == 1536 * 1024
    assert M.parse_size_bytes("2048", default=1) == 2048
    # malformed → the caller's default, never a ValueError mid-build
    assert M.parse_size_bytes("lots", default=7) == 7
    assert M.parse_size_bytes("", default=7) == 7


class _FakeConf:
    def __init__(self, val):
        self._v = val

    def get(self, key, default=None):
        return self._v if self._v is not None else default


class _FakeSpark:
    def __init__(self, val):
        self.conf = _FakeConf(val)


def test_driver_result_capacity_accepts_pib():
    """ADVICE r7: Spark's legal 'p' suffix must not hit the 1 GiB
    fallback — that silently skips driver tiers on a session that
    explicitly RAISED the limit."""
    assert M.driver_result_capacity(_FakeSpark("1p")) == 1024**5


def test_diffuse_checks_edge_collect_eligibility(spark, test0_items_df,
                                                 monkeypatch):
    """ADVICE r7: _diffuse_driver collects the edge list
    too — a session whose maxResultSize barely admits X must not take
    the driver tier when the edge collect would abort. Simulated by an
    eligibility stub that admits the X collect but rejects the
    edge-sized one; the distributed tier must produce the same
    values."""
    from pyarrowspace_spark.operators import knn as KNN

    edges = KNN.knn_edges(test0_items_df, GP, strategy="exact")
    n_edges = edges.count()
    edge_bytes = n_edges * 24
    want = {r["item_id"]: r["features"]
            for r in E.diffuse(test0_items_df, edges,
                               eta=0.05, steps=2).collect()}

    monkeypatch.setattr(
        M, "collect_eligible", lambda s, b: b != edge_bytes)

    def _no_driver_tier(*a, **k):
        raise AssertionError(
            "driver tier taken despite edge-collect ineligibility")

    monkeypatch.setattr(E, "_diffuse_driver", _no_driver_tier)
    got = {r["item_id"]: r["features"]
           for r in E.diffuse(test0_items_df, edges,
                              eta=0.05, steps=2).collect()}
    assert set(got) == set(want)
    # this pins tier ROUTING; the 1e-9 tier-parity pin lives in
    # test_energy.py
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-5, abs=1e-9)


def test_saved_serving_join_no_corpus_exchange(spark, tmp_path):
    """r7 verdict #2 (serving shape): the bench now persists the
    hashed corpus through the bucketed-table save. Serving from the
    REOPENED table must never exchange the corpus side, and the planes
    fingerprint must survive the catalog round trip (a wrong-planes
    reopen still errors)."""
    import io
    import contextlib

    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.search import search_ann
    from pyarrowspace_spark.operators.simsearch import (lsh_hyperplanes,
                                                        with_lsh_buckets)
    from pyarrowspace_spark.sources import loaders

    items = loaders.items_from_embeddings(
        spark, "/root/testdata/sf0.001").select("item_id", "features")
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.95, "k": 5, "topk": 3, "p": 2.0},
        strategy="exact")
    planes = lsh_hyperplanes(
        len(items.first()["features"]), n_tables=2, n_planes=4)
    hashed = with_lsh_buckets(
        idx.items.select("item_id", "features", "e_raw", "g"), planes)
    spark.sql("DROP TABLE IF EXISTS t8_hashed")
    (hashed.repartition(4, "item_id")
     .write.format("parquet").bucketBy(4, "item_id").sortBy("item_id")
     .option("path", str(tmp_path / "hashed"))
     .saveAsTable("t8_hashed"))
    reopened = spark.table("t8_hashed")

    qdf = items.limit(2).select(
        F.col("item_id").alias("query_id"), "features")
    out = search_ann(reopened, idx.feature_laplacian, qdf,
                     tau=0.62, k=3, planes=planes)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the query side is broadcast outside the plan; no Exchange sits
    # below the scoring kernel — the corpus scan feeds it in place
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    assert "Exchange" not in tree.split("MapInPandas")[1]
    assert out.count() > 0

    # fingerprint survived the catalog round trip: mismatched planes
    # must error, not silently return near-empty candidates
    wrong = lsh_hyperplanes(planes.shape[2], n_tables=2, n_planes=4,
                            seed=99)
    with pytest.raises(ValueError, match="fingerprint"):
        search_ann(reopened, idx.feature_laplacian, qdf,
                   tau=0.62, k=3, planes=wrong)
