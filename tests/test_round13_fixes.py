"""Pins for the round-13 fixes:

- λ-gather scan-source spool: `parquet_scan_source` plan whitelist
  (accept trivial scans/renames, reject anything with compute),
  `_stream_spool_from_parquet` value parity, and gather-tier parity
  between the scan-source and collect spool paths (r12 verdict task 6).
- fp32 auto-ship UserWarning on first engagement (ADVICE r12).
- group-readable spool modes by default, world-readable only behind
  the env opt-in (ADVICE r12).
- sorted-gather toggle parity (the local sort changes summation order
  only).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

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


def test_parquet_scan_source_whitelist(spark, tmp_path):
    """Trivial scans and pure renames resolve to source files+names;
    any plan with compute (transform, filter, cache) returns None —
    the fast path must never stream values the plan would change."""
    p, _ = _write_corpus(spark, tmp_path)
    items = spark.read.parquet(p).select("item_id", "features")
    src = LAM.parquet_scan_source(items, "item_id", "features")
    assert src is not None
    assert src["id_col"] == "item_id" and src["feat_col"] == "features"
    assert all(os.path.isfile(f) for f in src["files"])

    ren = spark.read.parquet(p).select(
        F.col("item_id").alias("id"), F.col("features").alias("emb"))
    r = LAM.parquet_scan_source(ren, "id", "emb")
    assert r is not None
    assert r["id_col"] == "item_id" and r["feat_col"] == "features"

    assert LAM.parquet_scan_source(
        items.filter(F.col("item_id") > 3), "item_id", "features") is None
    assert LAM.parquet_scan_source(
        items.withColumn("features",
                         F.transform("features", lambda x: x * 2)),
        "item_id", "features") is None
    # a cached PURE scan is still accepted (the cache holds exactly the
    # source values, so streaming from the files is value-identical);
    # a cached TRANSFORMED plan must be rejected like its uncached twin
    cached = items.persist()
    bad = items.withColumn(
        "features", F.transform("features", lambda x: x + 1)).persist()
    try:
        cached.count(), bad.count()
        assert LAM.parquet_scan_source(
            cached, "item_id", "features") is not None
        assert LAM.parquet_scan_source(
            bad, "item_id", "features") is None
    finally:
        cached.unpersist()
        bad.unpersist()


def test_stream_spool_matches_source(spark, tmp_path):
    """The streamed spool holds exactly the source matrix in id-sorted
    row order (ids here are already 0..n-1, so sorted == original)."""
    p, X = _write_corpus(spark, tmp_path, n=257, f=6)
    items = spark.read.parquet(p).select("item_id", "features")
    src = LAM.parquet_scan_source(items, "item_id", "features")
    x_path = str(tmp_path / "x.npy")
    res = LAM._stream_spool_from_parquet(src, 257, 6, np.float64, x_path)
    assert res is not None
    s_ids, order = res
    assert np.array_equal(s_ids, np.arange(257))
    assert np.array_equal(order, np.arange(257))
    assert np.array_equal(np.load(x_path), X)
    # row-count mismatch → None (caller falls back to collect)
    assert LAM._stream_spool_from_parquet(
        src, 256, 6, np.float64, str(tmp_path / "x2.npy")) is None


def test_gather_scan_source_parity(spark, tmp_path, monkeypatch):
    """Gather tier with the scan-source spool is BITWISE equal to the
    collect spool (same id-sorted storage, same sorted edge scan, same
    fp64 accumulation — only the spool's producer differs)."""
    p, _ = _write_corpus(spark, tmp_path, n=220, f=8)
    items = spark.read.parquet(p).select("item_id", "features")
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0, sigma=0.2)
    edges = K.knn_edges(items, gp, strategy="exact").persist()
    edges.count()
    monkeypatch.setattr(K, "EXACT_PATH_MAX_ROWS", 0)  # force gather tier
    src = LAM.parquet_scan_source(items, "item_id", "features")
    assert src is not None
    lf_scan = LAM.feature_laplacian(items, edges, 8, x_source=src)
    lf_collect = LAM.feature_laplacian(items, edges, 8, x_source=None)
    assert np.array_equal(lf_scan, lf_collect)
    edges.unpersist()


def test_fp32_auto_warning_fires_once(spark, test0_items_df, monkeypatch):
    """ADVICE r12: auto fp32 X shipping emits a one-time UserWarning
    when a corpus crosses LF_X_F32_MIN_ROWS."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = K.knn_edges(test0_items_df, gp, strategy="exact").persist()
    edges.count()
    monkeypatch.setattr(K, "EXACT_PATH_MAX_ROWS", 0)
    monkeypatch.setattr(LAM, "LF_X_F32_MIN_ROWS", 1)
    monkeypatch.delenv("SPARK_GRAFT_LF_X_DTYPE", raising=False)
    monkeypatch.setattr(LAM, "_WARNED_F32_AUTO", [False])
    with pytest.warns(UserWarning, match="float32"):
        LAM.feature_laplacian(test0_items_df, edges, 24)
    # second engagement stays quiet
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error", UserWarning)
        LAM.feature_laplacian(test0_items_df, edges, 24)
    edges.unpersist()


def test_spool_modes_group_readable_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE",
                       raising=False)
    assert LAM._spool_modes() == (0o750, 0o640)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE", "1")
    assert LAM._spool_modes() == (0o755, 0o644)


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


def test_lsh_miss_budget_env_override(monkeypatch):
    """SPARK_GRAFT_LSH_MISS_BUDGET raises the band count (more margin)
    without a code change; unset, the committed schedule is unchanged
    — the 800k two-seed re-sample showed a stable (non-noise) 0.954
    margin at 12 bits, so the lever must exist but must not silently
    move the measured anchors."""
    monkeypatch.delenv("SPARK_GRAFT_LSH_MISS_BUDGET", raising=False)
    base = K.auto_lsh_bands(12)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MISS_BUDGET", "3.5")
    assert K.auto_lsh_bands(12) > base
    monkeypatch.setenv("SPARK_GRAFT_LSH_MISS_BUDGET", "3.0")
    assert K.auto_lsh_bands(12) == base


def test_gather_sort_toggle_parity(spark, test0_items_df, monkeypatch):
    """The src-sorted edge scan changes float summation order only:
    L_F agrees with the unsorted scan to ~1 ulp."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = K.knn_edges(test0_items_df, gp, strategy="exact").persist()
    edges.count()
    monkeypatch.setattr(K, "EXACT_PATH_MAX_ROWS", 0)
    monkeypatch.setenv("SPARK_GRAFT_LF_GATHER_SORT", "1")
    lf_sorted = LAM.feature_laplacian(test0_items_df, edges, 24)
    monkeypatch.setenv("SPARK_GRAFT_LF_GATHER_SORT", "0")
    lf_unsorted = LAM.feature_laplacian(test0_items_df, edges, 24)
    scale = max(float(np.abs(lf_sorted).max()), 1e-30)
    assert float(np.abs(lf_sorted - lf_unsorted).max()) / scale < 1e-12
    edges.unpersist()


def test_edges_reuse_build_uses_scan_spool(spark, tmp_path, monkeypatch):
    """The edges-reuse rebuild (`ArrowSpaceBuilder.build(items, params,
    edges=saved)` — the fresh-JVM ANN-phase path at 2M) must engage the
    SAME scan-source gather spool as a fresh build when items is a
    trivial parquet scan: the kNN stage is skipped, but nothing about
    reusing edges makes the corpus less scannable. Pins the builder's
    x_src resolution surviving the `edges is not None` branch, and the
    per-build `lf_gather_spool` provenance both ways."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder

    p, _ = _write_corpus(spark, tmp_path, n=220, f=8)
    items = spark.read.parquet(p).select("item_id", "features")
    gp = {"eps": 0.9, "k": 5, "topk": 5, "p": 2.0, "sigma": 0.2}
    monkeypatch.setattr(K, "EXACT_PATH_MAX_ROWS", 0)  # force gather tier
    idx = ArrowSpaceBuilder.build(items, gp, strategy="exact")
    assert LAM._LAST_GATHER_SPOOL[0] == "scan"
    saved = str(tmp_path / "edges.parquet")
    idx.edges.write.parquet(saved)

    idx2 = ArrowSpaceBuilder.build(
        items, gp, edges=spark.read.parquet(saved))
    assert LAM._LAST_GATHER_SPOOL[0] == "scan"
    # value parity: the reused-graph rebuild reproduces the λ table
    # (relative tolerance: the edge parquet round-trip reorders rows,
    # so partial sums accumulate in a different order — measured max
    # relative delta ~7e-16)
    a = {r["item_id"]: r["lambda"] for r in idx.lambdas().collect()}
    b = {r["item_id"]: r["lambda"] for r in idx2.lambdas().collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[i] - b[i]) <= 1e-12 * max(abs(a[i]), 1.0)
               for i in a)
