"""r13 optimization-round pins: the narrow-shuffle LSH plan must match
the exact strategy and its own unsplit buckets; the spool diffusion
plan must match the driver tier and fail cleanly (clear
errors, no leaked spool dir)."""

import os

import numpy as np
import pytest

from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.params import GraphParams

from .test_energy import _corpus


def test_lsh_matches_exact_at_saturating_recall(spark):
    """Pinned against an independent reference: at recall-saturating
    band parameters (2-bit keys, 32 bands — a true neighbor misses
    every band with probability ~0) the LSH plan must emit the exact
    strategy's edge set, with distances equal to fp32 rounding (the
    LSH kernel gemms float32 unit vectors gathered from the spool)."""
    items = _corpus(spark)
    gp = GraphParams(eps=0.9, k=8, topk=8, p=2.0)
    info: dict = {}
    lsh = {(r["src"], r["dst"]): r["dist"] for r in K.knn_edges(
        items, gp, strategy="lsh", lsh_bits=2, lsh_bands=32,
        info=info).collect()}
    assert info  # the pair stage spooled
    exact = {(r["src"], r["dst"]): r["dist"]
             for r in K.knn_edges(items, gp, strategy="exact").collect()}
    assert set(lsh) == set(exact) and len(lsh) > 0
    for e, d in exact.items():
        assert abs(lsh[e] - d) <= 1e-6


def test_narrow_shuffle_skew_guard_identical(spark, monkeypatch):
    """Oversized-bucket block splitting (spool gather in block-pair
    tasks, LSH_BUCKET_MAX=8) emits the same edges as the unsplit
    buckets on a mass-duplicate corpus."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)] + [
        (100 + i, [float(x) for x in v])
        for i, v in enumerate(np.eye(4)[1:] * 1.0)]
    df = spark.createDataFrame(
        rows, schema="item_id long, features array<double>")
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0)
    unsplit = {(r["src"], r["dst"]) for r in K.knn_edges(
        df, gp, strategy="lsh", lsh_bits=4, lsh_bands=4).collect()}
    monkeypatch.setattr(K, "LSH_BUCKET_MAX", 8)
    split = {(r["src"], r["dst"]) for r in K.knn_edges(
        df, gp, strategy="lsh", lsh_bits=4, lsh_bands=4).collect()}
    assert split == unsplit and len(split) > 0


def test_diffuse_spool_plan_matches_driver_and_legacy(spark, monkeypatch):
    """The spool-gather distributed diffusion plan equals the driver
    tier with == (both run `matrix.segment_sum` over the edges in
    (dst, src) order); per-step instrumentation reports one entry per
    step."""
    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=400, f=12, seed=5)
    gp = GraphParams(eps=0.9, k=6, topk=6, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact").persist()
    info_a: dict = {}
    a = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.05, steps=3,
                            info=info_a).collect()}
    assert info_a["tier"] == "driver"
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    info: dict = {}
    b_df = E.diffuse(items, edges, eta=0.05, steps=3, info=info)
    b = {r["item_id"]: np.array(r["features"]) for r in b_df.collect()}
    assert info["plan"] == "spool"
    assert info["write"] == "task"
    assert len(info["step_sec"]) == 3
    edges.unpersist()
    assert set(a) == set(b)
    for i in a:
        assert np.array_equal(b[i], a[i]), i


def test_diffuse_spool_isolated_nodes_identity(spark, monkeypatch):
    """Items with no edges at all are the identity under diffusion and
    must appear unchanged in the spool plan's output (they are
    appended from the seed spool, never gathered)."""
    from pyarrowspace_spark.operators import energy as E

    rows = [(i, [float(i + 1), float(2 * i), 0.5]) for i in range(6)]
    items = spark.createDataFrame(
        rows, schema="item_id long, features array<double>")
    edges = spark.createDataFrame(
        [(0, 1, 0.5), (1, 2, 0.25), (2, 3, 0.75)],
        schema="src long, dst long, weight double")
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    info: dict = {}
    out = {r["item_id"]: np.array(r["features"])
           for r in E.diffuse(items, edges, eta=0.1, steps=2,
                              info=info).collect()}
    assert info["plan"] == "spool"
    assert set(out) == set(range(6))
    for i in (4, 5):
        np.testing.assert_array_equal(
            out[i], np.array(rows[i][1], dtype=np.float64))
    # connected nodes actually moved
    assert not np.allclose(out[1], rows[1][1])


def test_diffuse_spool_stream_write_mode_matches(spark, monkeypatch,
                                                 tmp_path):
    """The parquet+driver-stream spool build (the write mode of
    multi-host masters) produces the driver tier's values, with ==.
    The master seam reports multi-host, so the scratch-visibility probe
    runs on the set SPARK_GRAFT_SCRATCH_DIR before the stream path."""
    from pyarrowspace_spark import spool
    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=250, f=10, seed=21)
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact")
    a = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.05, steps=2).collect()}
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    monkeypatch.setattr(spool, "single_host_master", lambda spark: False)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    probed = []
    real_probe = spool.probe_worker_visible

    def _probe(spark, d):
        probed.append(d)
        return real_probe(spark, d)

    monkeypatch.setattr(spool, "probe_worker_visible", _probe)
    info: dict = {}
    b = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.05, steps=2,
                            info=info).collect()}
    assert probed == [str(tmp_path)]
    assert info["plan"] == "spool"
    assert info["write"] == "stream"
    assert set(a) == set(b)
    for i in a:
        assert np.array_equal(b[i], a[i]), i


def _spool_dirs(path) -> list:
    return [p for p in os.listdir(path)
            if p.startswith("pyarrowspace-diffspool-")]


def test_diffuse_spool_dir_removed_when_step_fails(spark, monkeypatch,
                                                   tmp_path):
    """Fault injection: a step kernel that raises mid-diffusion makes
    `diffuse` raise and leaves no spool dir under the scratch dir, nor
    a registration in matrix._SCRATCH_DIRS."""
    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=120, f=6, seed=2)
    gp = GraphParams(eps=0.9, k=4, topk=4, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)

    def _boom_factory(*a, **k):
        def kernel(batches):
            raise RuntimeError("injected diffusion step failure")
            yield  # pragma: no cover - makes this a generator

        return kernel

    monkeypatch.setattr(E, "_make_spool_step_kernel", _boom_factory)
    before = list(M._SCRATCH_DIRS)
    with pytest.raises(Exception, match="injected diffusion step"):
        E.diffuse(items, edges, eta=0.05, steps=2).collect()
    assert _spool_dirs(tmp_path) == []
    assert M._SCRATCH_DIRS == before


def test_diffuse_spool_rejects_duplicate_ids(spark, monkeypatch):
    """Duplicate ids would make the by-id spool scatter overwrite rows:
    the distributed tier raises ValueError instead of falling back."""
    from pyarrowspace_spark.operators import energy as E

    items = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (1, [0.5, 0.5])],
        schema="item_id long, features array<double>")
    edges = spark.createDataFrame(
        [(0, 1, 0.5)], schema="src long, dst long, weight double")
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    with pytest.raises(ValueError, match="unique"):
        E.diffuse(items, edges, eta=0.1, steps=1)


def test_diffuse_spool_refuses_full_scratch(spark, monkeypatch, tmp_path):
    """Too little free scratch is a clear error stating the bytes
    needed (3·N·F·8 + 64 MiB), the bytes free and the directory — and
    no spool dir is created."""
    import shutil
    from collections import namedtuple

    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=50, f=4, seed=1)
    edges = spark.createDataFrame(
        [(0, 1, 0.5)], schema="src long, dst long, weight double")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    usage = namedtuple("usage", "total used free")
    monkeypatch.setattr(shutil, "disk_usage",
                        lambda p: usage(1 << 30, (1 << 30) - 1000, 1000))
    need = 3 * 50 * 4 * 8 + (64 << 20)
    with pytest.raises(RuntimeError) as ei:
        E.diffuse(items, edges, eta=0.1, steps=1)
    msg = str(ei.value)
    assert str(need) in msg and "1000" in msg and str(tmp_path) in msg
    assert _spool_dirs(tmp_path) == []


def test_diffuse_spool_multi_host_needs_scratch(spark, monkeypatch):
    """A multi-host master with no worker-visible scratch dir cannot
    run the spool plan: a RuntimeError names SPARK_GRAFT_SCRATCH_DIR
    (there is no portable fallback plan any more)."""
    from pyarrowspace_spark import spool
    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=50, f=4, seed=1)
    edges = spark.createDataFrame(
        [(0, 1, 0.5)], schema="src long, dst long, weight double")
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)
    monkeypatch.setattr(spool, "single_host_master", lambda spark: False)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_SCRATCH_DIR"):
        E.diffuse(items, edges, eta=0.1, steps=1)
