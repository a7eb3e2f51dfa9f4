"""Input and resource contract of the LSH build (`knn.knn_edges`,
strategy="lsh"): duplicate ids and empty frames, the scratch rule it
shares with diffusion, the up-front disk budget, spool cleanup on
failure, `lsh_plan` describing the plan that runs, per-group stage
metrics read without the UI's REST endpoint, a build record no nested
build can change, and the builder's one input check on both
strategies."""

import os
import shutil
from collections import namedtuple

import numpy as np
import pytest

from pyarrowspace_spark import spool
from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.params import GraphParams

GP = GraphParams(eps=0.9, k=6, topk=6, p=2.0)


def _rows(n, f=16, seed=4):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((3, f))[rng.integers(0, 3, n)]
    X += 0.1 * rng.standard_normal((n, f))
    return [(i, [float(v) for v in X[i]]) for i in range(n)]


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, schema="item_id long, features array<double>")


def _lsh_dirs(path) -> list:
    return [p for p in os.listdir(path)
            if p.startswith(("pyarrowspace-lshu-",
                             "pyarrowspace-lshpairs-"))]


def test_lsh_rejects_duplicate_ids(spark, monkeypatch, tmp_path):
    """A repeated id would make the by-id spool gather hand every copy
    one row's vector and silently change the edges: ValueError with the
    count and an example id, and the U spool dir is removed."""
    rows = _rows(60)
    rows.append((7, [float(v) for v in -np.asarray(rows[7][1])]))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    before = list(M._SCRATCH_DIRS)
    with pytest.raises(ValueError, match=r"unique; 1 ids repeat \(e\.g\. 7\)"):
        K.knn_edges(_frame(spark, rows), GP, strategy="lsh")
    assert _lsh_dirs(tmp_path) == []
    assert M._SCRATCH_DIRS == before


def test_lsh_empty_items_typed_empty_edges(spark):
    """An empty items frame is an empty, typed edge list."""
    edges = K.knn_edges(_frame(spark, []), GP, strategy="lsh")
    assert edges.columns == ["src", "dst", "dist", "weight"]
    assert [t for _, t in edges.dtypes] == ["bigint", "bigint", "double",
                                            "double"]
    assert edges.count() == 0


def test_lsh_multi_host_needs_scratch(spark, monkeypatch, tmp_path):
    """The LSH build follows diffusion's scratch rule: a multi-host
    master with no worker-visible scratch dir is a RuntimeError naming
    SPARK_GRAFT_SCRATCH_DIR (there is no other plan to fall back to);
    with one, the probe runs on it and the edges are unchanged."""
    items = _frame(spark, _rows(40))
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    local = K.knn_edges(items, GP, strategy="lsh").collect()
    monkeypatch.setattr(spool, "single_host_master", lambda spark: False)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_SCRATCH_DIR"):
        K.knn_edges(items, GP, strategy="lsh")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    probed = []
    real_probe = spool.probe_worker_visible

    def _probe(spark, d):
        probed.append(d)
        return real_probe(spark, d)

    monkeypatch.setattr(spool, "probe_worker_visible", _probe)
    shared = K.knn_edges(items, GP, strategy="lsh").collect()
    assert probed == [str(tmp_path)]
    assert sorted(shared) == sorted(local) and len(local) > 0


def test_lsh_refusal_writes_nothing(spark, monkeypatch, tmp_path):
    """The disk budget is checked before any spool byte is written: a
    refused build leaves no U-spool or pair-spool dir and no scratch
    registration."""
    items = _frame(spark, _rows(80))
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    usage = namedtuple("usage", "total used free")
    monkeypatch.setattr(shutil, "disk_usage",
                        lambda p: usage(1 << 30, (1 << 30) - 1000, 1000))
    before = list(M._SCRATCH_DIRS)
    with pytest.raises(RuntimeError, match="refused up front"):
        K.knn_edges(items, GP, strategy="lsh")
    assert _lsh_dirs(tmp_path) == []
    assert M._SCRATCH_DIRS == before


def test_lsh_prices_spools_on_the_scratch_root(spark, monkeypatch,
                                              tmp_path):
    """The U spool, its parquet copy and the pair spools are priced on
    the scratch root they are written under, the shuffle on the spill
    dir: with the two on different disks and only the scratch root
    short, the build refuses up front and names the scratch root."""
    spill, root = tmp_path / "spill", tmp_path / "root"
    spill.mkdir()
    root.mkdir()
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    monkeypatch.setattr(spool, "spill_dir", lambda spark: str(spill))
    monkeypatch.setattr(spool, "scratch", lambda spark, op: (str(root), True))
    # both tmp dirs share one filesystem here; the build must treat
    # them as two disks
    monkeypatch.setattr(spool, "same_device", lambda a, b: False,
                        raising=False)
    usage = namedtuple("usage", "total used free")
    monkeypatch.setattr(shutil, "disk_usage", lambda p: usage(
        1 << 40, 0, 500_000 if str(p).startswith(str(root)) else 1 << 40))
    with pytest.raises(RuntimeError, match="refused up front") as err:
        K.knn_edges(_frame(spark, _rows(80)), GP, strategy="lsh")
    assert f"'{root}' has" in str(err.value)
    assert _lsh_dirs(root) == []
    # with room on both disks the two-disk group loop builds the graph
    # one disk builds
    items = _frame(spark, _rows(80))
    monkeypatch.setattr(shutil, "disk_usage",
                        lambda p: usage(1 << 40, 0, 1 << 40))
    two = sorted(K.knn_edges(items, GP, strategy="lsh").collect())
    monkeypatch.setattr(spool, "same_device", lambda a, b: True)
    assert two == sorted(K.knn_edges(items, GP, strategy="lsh").collect())
    assert len(two) > 0


def test_lsh_failure_mid_build_removes_spools(spark, monkeypatch,
                                              tmp_path):
    """A failure after the first band group has spooled its pairs
    removes the U spool and every pair-spool dir of that build."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")

    def _boom(spark, watermark):
        assert _lsh_dirs(tmp_path)  # the spools exist at this point
        raise RuntimeError("injected group failure")

    monkeypatch.setattr(K, "_stages_since", _boom)
    before = list(M._SCRATCH_DIRS)
    with pytest.raises(RuntimeError, match="injected group failure"):
        K.knn_edges(_frame(spark, _rows(80)), GP, strategy="lsh")
    assert _lsh_dirs(tmp_path) == []
    assert M._SCRATCH_DIRS == before


def test_lsh_plan_group_count_matches_build(spark, monkeypatch):
    """`lsh_plan` prices the rows the build shuffles: under a forced
    group budget its band-group count is the count the build ran."""
    n, f, k = 600, 24, 6
    monkeypatch.setattr(K, "LSH_GROUP_BYTES", 100_000)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    gp = GraphParams(eps=0.35, k=k, topk=k, p=2.0, sigma=0.2)
    info: dict = {}
    K.knn_edges(_frame(spark, _rows(n, f=f)), gp, strategy="lsh",
                info=info).count()
    plan = K.lsh_plan(n, f, k)
    assert plan["n_band_groups"] >= 2
    assert info["n_groups"] == plan["n_band_groups"]


def test_lsh_group_stages_without_rest(spark, monkeypatch):
    """Each band group's stage metrics come from the JVM status store:
    with every HTTP request failing, a forced-grouping build still
    records its groups' stages with the per-stage fields."""
    import urllib.request

    def _no_http(*args, **kwargs):
        raise OSError("no HTTP in this test")

    monkeypatch.setattr(urllib.request, "urlopen", _no_http)
    monkeypatch.setattr(K, "LSH_GROUP_BYTES", 100_000)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    gp = GraphParams(eps=0.35, k=6, topk=6, p=2.0, sigma=0.2)
    info: dict = {}
    K.knn_edges(_frame(spark, _rows(600, f=24)), gp, strategy="lsh",
                info=info).count()
    groups = info["groups"]
    assert len(groups) >= 2
    for g in groups:
        assert g["stages"]
        for st in g["stages"]:
            for fld in ("sid", "name", "wall_sec", "task_sec",
                        "disk_spill_gb", "shuffle_write_gb"):
                assert fld in st
            assert st["num_tasks"] >= 1 and st["wall_sec"] >= 0
    sids = [st["sid"] for g in groups for st in g["stages"]]
    assert sids == sorted(set(sids))  # each group: only its own stages


def test_nested_build_cannot_change_the_outer_record(spark, monkeypatch):
    """Contract: a call's record is its own. An exact `knn_edges` run
    inside an LSH build's band-group loop (from the per-group
    stage-metrics read) leaves the outer record whole: every group
    recorded, n_groups ≥ 2, and the nested records empty. With a
    module-global record the nested call reset it mid-loop and the
    outer build died on the measured spool unit."""
    monkeypatch.setattr(K, "LSH_GROUP_BYTES", 100_000)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    small = _frame(spark, _rows(40))
    real = K._stages_since
    nested = []

    def _interleaved(spark_, watermark):
        inner: dict = {}
        K.knn_edges(small, GP, strategy="exact", info=inner)
        nested.append(inner)
        return real(spark_, watermark)

    monkeypatch.setattr(K, "_stages_since", _interleaved)
    gp = GraphParams(eps=0.35, k=6, topk=6, p=2.0, sigma=0.2)
    info: dict = {}
    K.knn_edges(_frame(spark, _rows(600, f=24)), gp, strategy="lsh",
                info=info).count()
    assert info["n_groups"] >= 2
    assert info["n_groups"] == len(info["groups"]) == len(nested)
    assert nested == [{}] * len(nested)


@pytest.mark.parametrize("strategy", ["exact", "lsh"])
@pytest.mark.parametrize("bad", ["ragged", "null"])
def test_builder_rejects_ragged_and_null_rows(spark, monkeypatch,
                                              strategy, bad):
    """Contract: the builder's one shape aggregate rejects a ragged
    corpus (row 40 has 7 of 8 features) and a null feature row with
    one ValueError naming the lengths, on both strategies. The exact
    path used to fail inside numpy's stack and the LSH path as a
    "not deterministic" items frame."""
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    rows = _rows(60, f=8)
    rows[40] = (40, rows[40][1][:7] if bad == "ragged" else None)
    want = ("lengths range from 7 to 8 over 60 rows, 0 of them"
            if bad == "ragged" else
            "lengths range from 8 to 8 over 60 rows, 1 of them")
    with pytest.raises(ValueError, match=want):
        ArrowSpaceBuilder.build(_frame(spark, rows), GP, strategy=strategy)
