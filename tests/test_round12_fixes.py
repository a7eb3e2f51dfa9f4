"""Round-12 fix pins (VERDICT r11 findings + ADVICE r11):

- per-GROUP pair-spool projection under the k-cap (finding 3): the
  up-front refusal must accept a build whose disk fits the k-capped
  per-group spools even when the old per-band projection would refuse.
- `lsh_plan` / LSH build record diagnostics surface (finding 2): the
  grouped-stage record is the `info` dict `knn_edges` fills and the
  index's `lsh_build_info`, no module-global breadcrumb.

The fp64 half of the gather-tier pin and the worker-visibility probe
of the spool scratch rule live in tests/test_lambda.py; the
high-degree star diffusion pin lives in tests/test_energy.py.
"""

import os
import types

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.params import GraphParams

from .conftest import TEST0_ITEMS


def _small_corpus(spark, n=600, f=24, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((6, f))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = centers[rng.integers(0, 6, n)] + 0.05 * rng.standard_normal((n, f))
    rows = [(i, [float(v) for v in X[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, schema="item_id long, features array<double>")


def test_lsh_plan_deterministic_twin():
    """lsh_plan replays the runtime's own auto rules (bit width, band
    count) and the k-capped per-group spool projection — the arithmetic
    the DuckDB oracle twin embeds."""
    import math

    p = K.lsh_plan(313_841, 384, 25)
    n_bits = int(min(20, max(6, round(math.log2(313_841 / 256)))))
    assert p["n_bits"] == n_bits
    assert p["n_bands"] == K.auto_lsh_bands(n_bits)
    assert p["n_band_groups"] >= 1
    assert p["band_shuffle_bytes"] == 313_841 * K.LSH_ROW_BYTES
    assert p["spool_group_bytes"] == 313_841 * 25 * K.LSH_PAIR_SPOOL_BYTES
    # explicit budget: 1-byte budget → every band its own group cap
    tiny = K.lsh_plan(313_841, 384, 25, group_budget_bytes=1)
    assert tiny["n_band_groups"] == tiny["n_bands"]


def test_group_summary_attached_and_reset(spark, monkeypatch):
    """A grouped LSH build fills the `knn_edges` record and the built
    index's lsh_build_info; a following exact build leaves its record
    empty and its index's lsh_build_info None (no stale leak across
    builds — finding 2)."""
    # narrow 28 B rows: a 100 kB budget forces ≥2 groups at N=600
    monkeypatch.setattr(K, "LSH_GROUP_BYTES", 100_000)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    items = _small_corpus(spark)
    gp = GraphParams(eps=0.35, k=6, topk=6, p=2.0, sigma=0.2)
    idx = ArrowSpaceBuilder.build(items, gp, strategy="lsh")
    s = idx.lsh_build_info
    assert s is not None and s["n_groups"] >= 2
    assert s["bands_total"] == sum(len(g["bands"]) for g in s["groups"])
    assert s["spool_bytes_total"] > 0
    assert s["spool_bytes_max_group"] <= s["spool_bytes_total"]
    assert s["n_groups"] == len(s["groups"])
    assert idx.edges.count() > 0
    # exact build afterwards: its record is empty, nothing attached,
    # and the LSH index keeps its own record
    rec: dict = {}
    K.knn_edges(items, gp, strategy="exact", info=rec)
    assert rec == {}
    idx2 = ArrowSpaceBuilder.build(items, gp, strategy="exact")
    assert idx2.lsh_build_info is None
    assert idx.lsh_build_info is s and s["n_groups"] >= 2


def test_spool_projection_per_group_not_per_band(spark, monkeypatch):
    """VERDICT r11 finding 3: with the per-src k-cap active, a group's
    spool is bounded at N·k rows regardless of band count, so the
    up-front refusal must project per GROUP. Fake the free-disk probe
    to a value BETWEEN the r11 per-band projection (would refuse) and
    the per-group need (fits) and assert the build proceeds."""
    monkeypatch.setattr(K, "LSH_GROUP_BYTES", 700_000)
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    monkeypatch.setattr(K, "LSH_SPILL_FACTOR", 4.0)
    n, f, k = 600, 24, 8
    items = _small_corpus(spark, n=n, f=f)
    # runtime plan at these shapes (auto bits/bands)
    plan = K.lsh_plan(n, f, k)
    nb = plan["n_bands"]
    band_bytes = n * K.LSH_ROW_BYTES
    # the U spool (N·F·4) alone: a createDataFrame input has no proven
    # corpus scan, but on a single-host master the tasks scatter it,
    # with no parquet copy
    u_bytes = n * f * 4
    spool_unit = n * k * K.LSH_PAIR_SPOOL_BYTES
    floor_b, spill = 1_000_000, 4.0
    old_need = nb * spool_unit + band_bytes * spill + u_bytes + floor_b
    new_need = (plan["n_band_groups"] * spool_unit
                + band_bytes * spill + u_bytes + floor_b)
    fake_free = int((old_need + new_need) / 2)
    assert new_need < fake_free < old_need  # the scenario is real
    real_usage = K.shutil.disk_usage

    def fake_usage(path):
        r = real_usage(path)
        return types.SimpleNamespace(total=r.total, used=r.used,
                                     free=fake_free)

    monkeypatch.setattr(K.shutil, "disk_usage", fake_usage)
    s: dict = {}
    edges = K.knn_edges(
        _small_corpus(spark, n=n, f=f),
        GraphParams(eps=0.35, k=k, topk=k, p=2.0, sigma=0.2),
        strategy="lsh", info=s)
    assert edges.count() > 0
    assert s is not None and s["n_groups"] >= 2
    assert items is not None


def test_synth_tmp_name_unique(tmp_path):
    """ADVICE r11: concurrent generators of the same corpus must not
    clobber each other's in-progress tmp file — the staged name is
    unique per process/invocation and the final rename is atomic."""
    from pyarrowspace_spark.sources.synth import ensure_clustered_corpus

    p1 = ensure_clustered_corpus(str(tmp_path), n=1000, f=8)
    assert os.path.exists(p1)
    # no .tmp leftovers after a clean run
    leftovers = [fn for fn in os.listdir(os.path.dirname(p1))
                 if ".tmp" in fn]
    assert leftovers == []
    # regenerating is a cache hit (same path, still readable)
    import pyarrow.parquet as pq

    assert ensure_clustered_corpus(str(tmp_path), n=1000, f=8) == p1
    assert pq.read_metadata(p1).num_rows == 1000
