"""Pins for the round-13 fixes:

- spool-tier parity between the corpus-parquet, collect and parquet
  copy sources of the λ X spool (r12 verdict task 6).
- `ArrowSpaceBuilder.build(edges=...)` reproduces the original build.
- per-process scratch run dirs; the LSH miss-budget env override.

The λ/spool tests of this round now live in tests/test_lambda.py.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyarrowspace_spark import spool
from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.operators import lambda_index as LAM
from pyarrowspace_spark.params import GraphParams


def _write_corpus(spark, tmp_path, n=300, f=8, seed=3):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, f)) * 4
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
    p = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        rows, "item_id long, features array<double>").write.parquet(p)
    return p, X


def test_gather_scan_source_parity(spark, tmp_path, monkeypatch):
    """The spool tier with the corpus-parquet source is BITWISE equal to
    the collect source and to the parquet copy source (same id-sorted
    storage, same sorted edge scan, same fp64 accumulation — only the
    spool's producer differs)."""
    p, _ = _write_corpus(spark, tmp_path, n=220, f=8)
    items = spark.read.parquet(p).select("item_id", "features")
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0, sigma=0.2)
    edges = K.knn_edges(items, gp, strategy="exact").persist()
    edges.count()
    monkeypatch.setattr(M, "DRIVER_BUDGET_BYTES", 0)  # force spool tier
    src = spool.parquet_scan_source(items, "item_id", "features")
    assert src is not None
    lf_scan = LAM.feature_laplacian(items, edges, 8, x_source=src)
    lf_collect = LAM.feature_laplacian(items, edges, 8, x_source=None)
    assert np.array_equal(lf_scan, lf_collect)
    monkeypatch.setattr(M, "collect_eligible", lambda s, b: False)
    lf_copy = LAM.feature_laplacian(items, edges, 8, x_source=None)
    assert np.array_equal(lf_copy, lf_collect)
    edges.unpersist()


def test_build_with_reused_edges_matches(spark, tmp_path):
    """ArrowSpaceBuilder.build(edges=...) — the standard-build twin of
    build_energy's one-graph-two-indexes reuse: rebuilding the index
    from a saved edge list yields the same λ table and L_F as the
    original build (the harness uses this to run the 2M ANN phase in
    a fresh JVM without re-paying the kNN stage)."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder

    p, _ = _write_corpus(spark, tmp_path, n=150, f=8, seed=9)
    items = spark.read.parquet(p).select("item_id", "features")
    gp = {"eps": 0.9, "k": 5, "topk": 5, "p": 2.0}
    idx = ArrowSpaceBuilder.build(items, gp, strategy="exact")
    ep = str(tmp_path / "edges.parquet")
    idx.edges.write.parquet(ep)
    idx2 = ArrowSpaceBuilder.build(
        items, gp, edges=spark.read.parquet(ep))
    assert idx2.lsh_build_info is None
    assert np.allclose(idx2.feature_laplacian, idx.feature_laplacian,
                       rtol=1e-12, atol=0)
    assert idx2.tau_synth == pytest.approx(idx.tau_synth, rel=1e-12)
    lam1 = {r["item_id"]: r["lambda"]
            for r in idx.items.select("item_id", "lambda").collect()}
    lam2 = {r["item_id"]: r["lambda"]
            for r in idx2.items.select("item_id", "lambda").collect()}
    assert lam1.keys() == lam2.keys()
    assert all(lam2[i] == pytest.approx(lam1[i], rel=1e-12)
               for i in lam1)


def test_scratch_run_dir_reaps_dead_only(tmp_path):
    """Per-process scratch subdirs: a dead pid's run dir is reaped, a
    live one's (ours) and foreign names are left alone — the r13 fix
    for cross-process scratch cleanup killing live shuffle files."""
    from pyarrowspace_spark.session import scratch_run_dir

    root = str(tmp_path)
    dead = tmp_path / "run-999999999"  # pid far above pid_max
    dead.mkdir()
    foreign = tmp_path / "blockmgr-someone-elses"
    foreign.mkdir()
    mine = scratch_run_dir(root)
    assert os.path.isdir(mine)
    assert mine == os.path.join(root, f"run-{os.getpid()}")
    assert not dead.exists()
    assert foreign.exists()
    # idempotent for the same process
    assert scratch_run_dir(root) == mine


def test_get_spark_turns_off_call_site_capture(spark):
    """Pin: `get_spark` sessions run without PySpark's DataFrame
    call-site capture, which walks the stack and pays py4j round trips
    on every Column call and imports IPython on the first."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_auto_lsh_bands_default_schedule():
    """Pin: the band count per bit width at the constant 3.0 miss
    budget, the schedule the measured anchors ran (31 bands at 12 bits,
    the 800k anchor), and the arithmetic behind the per-build margin
    knob: 37 bands, what `build(lsh_bands=37)` passes, is the schedule
    at a 3.5 budget for 12 bits."""
    import math

    assert K.LSH_MISS_BUDGET == 3.0
    assert {b: K.auto_lsh_bands(b) for b in range(6, 21)} == {
        6: 16, 7: 16, 8: 16, 9: 17, 10: 21, 11: 26, 12: 31, 13: 39,
        14: 47, 15: 58, 16: 71, 17: 87, 18: 106, 19: 129, 20: 158}
    p = K.LSH_DESIGN_COLLISION ** 12
    assert math.ceil(3.5 / -math.log(1.0 - p)) == 37
