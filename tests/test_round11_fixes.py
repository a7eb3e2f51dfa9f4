"""Round-11 contract pins: the adaptive LSH band-group disk budget
(up-front refusal + measured-free-disk group sizing — the r10 2M abort
fix), recursive spool accounting, the census-collect cap, and the
diffuse_plan self-description and its EnergyIndex record."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as knn_ops
from pyarrowspace_spark.params import EnergyParams, GraphParams


@pytest.fixture(scope="module")
def sf_items(spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    return items_from_embeddings(spark, "/root/testdata/sf0.001").select(
        "item_id", "features").persist()


# ---------------------------------------------------------------- knn


def test_dir_bytes_recursive(tmp_path):
    """Spool accounting must see files inside subdirectories (a flat
    listdir counted a partition subtree as one dirent — ADVICE r10)."""
    (tmp_path / "a.bin").write_bytes(b"x" * 100)
    sub = tmp_path / "part=0"
    sub.mkdir()
    (sub / "b.bin").write_bytes(b"y" * 250)
    deeper = sub / "deeper"
    deeper.mkdir()
    (deeper / "c.bin").write_bytes(b"z" * 50)
    assert knn_ops._dir_bytes(str(tmp_path)) == 400


def test_lsh_group_budget_upfront_refusal(spark, sf_items, monkeypatch):
    """With an impossible free-disk floor the grouped build must refuse
    BEFORE running any Spark job, with the projection arithmetic in the
    message — not crash 90 minutes in on a watchdog (the r10 2M
    failure mode)."""
    monkeypatch.setattr(knn_ops, "LSH_GROUP_BYTES", 64 << 10)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1048576g")
    gp = GraphParams(eps=0.9, k=10, topk=5, p=2.0)
    with pytest.raises(RuntimeError, match="refused up front"):
        knn_ops.knn_edges(sf_items, gp, strategy="lsh").count()


def test_lsh_adaptive_groups_match_single_stage(spark, sf_items,
                                                monkeypatch):
    """The adaptive grouped path (tiny budget → several sequential
    band groups, spooled) must produce the IDENTICAL edge set as the
    single-stage plan — band order invariance, now under the r11
    adaptive loop. Also pins the per-group instrumentation fields."""
    gp = GraphParams(eps=0.9, k=10, topk=5, p=2.0)
    single = {(r["src"], r["dst"]): r["dist"] for r in knn_ops.knn_edges(
        sf_items, gp, strategy="lsh").select(
        "src", "dst", "dist").collect()}
    monkeypatch.setattr(knn_ops, "LSH_GROUP_BYTES", 64 << 10)
    rec: dict = {}
    grouped = {(r["src"], r["dst"]): r["dist"] for r in knn_ops.knn_edges(
        sf_items, gp, strategy="lsh", info=rec).select(
        "src", "dst", "dist").collect()}
    assert single == grouped
    info = rec["groups"]
    assert info and len(info) > 1
    for g in info:
        assert g["spool_bytes"] > 0
        assert g["disk_free_bytes"] > 0
        assert g["sec"] >= 0
        # per-stage metrics present when the UI is reachable (it is in
        # the test harness); every record carries the spill/shuffle
        # fields the 2M postmortem needs
        for st in g.get("stages", []):
            for fld in ("sid", "name", "wall_sec", "task_sec",
                        "disk_spill_gb", "shuffle_write_gb"):
                assert fld in st


def test_lsh_census_cap_lazy_fallback(spark, monkeypatch):
    """Above LSH_CENSUS_COLLECT_MAX oversized keys the census must stay
    a lazy distributed plan (no unbounded driver collect) and still
    produce the same edges as the collected census."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)] + [
        (100 + i, [float(x) for x in v])
        for i, v in enumerate(np.eye(4)[1:])]
    df = spark.createDataFrame(
        rows, schema="item_id long, features array<double>")
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0)

    def edge_set():
        return {(r["src"], r["dst"]) for r in knn_ops.knn_edges(
            df, gp, strategy="lsh", lsh_bits=4, lsh_bands=4,
        ).select("src", "dst").collect()}

    # 40 identical vectors, bucket_max forced tiny via the module
    # constant: every band has oversized keys
    monkeypatch.setattr(knn_ops, "LSH_BUCKET_MAX", 8)
    collected = edge_set()
    monkeypatch.setattr(knn_ops, "LSH_CENSUS_COLLECT_MAX", 0)
    lazy = edge_set()
    assert collected == lazy and len(collected) > 0


# -------------------------------------------------------------- energy


def test_diffuse_plan_driver_tier():
    assert E.diffuse_plan(500, 64, 5_000) == {"distributed_tier": 0}


def test_diffuse_plan_distributed_chunks():
    # 2·N·F·8 + 384·E = 12.3e9 > the 4 GiB budget → distributed spool tier
    assert E.diffuse_plan(2_000_000, 384, 0) == {"distributed_tier": 1}


def test_energy_index_records_diffusion_info(spark, sf_items, tmp_path):
    """An EnergyIndex self-describes the diffusion step that produced
    it (tier), and the record survives save/load and
    extend (r10 verdict: visible semantics, not module globals)."""
    ep = EnergyParams(optical_tokens=8, eta=0.05, steps=2,
                      trim_quantile=0.1)
    gp = GraphParams(eps=0.9, k=10, topk=5, p=2.0)
    idx = E.build_energy(sf_items, ep, gp)
    assert idx.diffusion_info is not None
    assert idx.diffusion_info["tier"] == "driver"
    path = str(tmp_path / "eidx")
    idx.save(path)
    back = E.EnergyIndex.load(spark, path)
    assert back.diffusion_info == idx.diffusion_info
    ext = idx.extend(sf_items.limit(3).select(
        (F.col("item_id") + 10_000).alias("item_id"), "features"))
    assert ext.diffusion_info == idx.diffusion_info
