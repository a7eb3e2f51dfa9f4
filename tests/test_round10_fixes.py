"""Round-10 contract pins: build_energy normalise=True scale parity
(the round-9 fix shipped untested — VERDICT r9 'What's wrong' #1) and
extend_energy check_ids probes. The extend-then-search roundtrip and
the distributed-vs-driver diffusion pins live in test_energy.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.params import EnergyParams, GraphParams


EP = EnergyParams(optical_tokens=16, eta=0.05, steps=2, trim_quantile=0.1)
GPN = GraphParams(eps=0.9, k=10, topk=10, p=2.0, normalise=True)


@pytest.fixture(scope="module")
def sf_items(spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    return items_from_embeddings(spark, "/root/testdata/sf0.001").select(
        "item_id", "features").persist()


def _index_state(idx):
    items = {r["item_id"]: (r["lambda"], r["e_raw"], r["centroid_id"])
             for r in idx.items.collect()}
    return idx.tau_synth, items


def test_build_energy_normalise_scale_invariance(spark, sf_items):
    """The r9 fix under test: with normalise=True, build_energy must
    store the BASE corpus in unit-norm space (energy.py build_energy,
    mirroring builder.py's P1 stage), so the whole index is invariant
    to per-item input scaling — same tau_synth, λ, e_raw, centroid
    assignment, and search scores whether the caller's vectors arrive
    raw or arbitrarily rescaled. Pre-fix, the scaled build stored
    raw-scale features and every energy quantity diverged."""
    idx_a = E.build_energy(sf_items, EP, GPN)
    scaled = sf_items.select(
        "item_id",
        F.transform(
            "features",
            lambda x: x * (F.lit(0.5) + (F.col("item_id") % 7))
        ).alias("features"),
    )
    idx_b = E.build_energy(scaled, EP, GPN)

    tau_a, items_a = _index_state(idx_a)
    tau_b, items_b = _index_state(idx_b)
    assert tau_b == pytest.approx(tau_a, rel=1e-9)
    assert set(items_a) == set(items_b)
    for i in items_a:
        assert items_b[i][0] == pytest.approx(items_a[i][0], rel=1e-9)
        assert items_b[i][1] == pytest.approx(items_a[i][1], rel=1e-9)
        assert items_b[i][2] == items_a[i][2]

    q = np.array(sf_items.filter(F.col("item_id") == 7)
                 .first()["features"])
    hits_a = {(r["item_id"], round(r["score"], 9))
              for r in E.search_energy(idx_a, q, k=5).collect()}
    hits_b = {(r["item_id"], round(r["score"], 9))
              for r in E.search_energy(idx_b, q, k=5).collect()}
    assert hits_a == hits_b


def test_extend_energy_check_ids(spark, sf_items):
    """check_ids probes (ADVICE r9): collision with the existing index
    raises; duplicate ids WITHIN the new batch raise; both reachable
    through the EnergyIndex.extend wrapper; default stays off."""
    idx = E.build_energy(sf_items, EP, GPN)
    v = [float(x) for x in
         sf_items.filter(F.col("item_id") == 1).first()["features"]]
    clash = spark.createDataFrame(
        [(1, v)], schema="item_id long, features array<double>")
    with pytest.raises(ValueError, match="already"):
        idx.extend(clash, check_ids=True)
    dup_batch = spark.createDataFrame(
        [(200_000, v), (200_000, v)],
        schema="item_id long, features array<double>")
    with pytest.raises(ValueError, match="new batch"):
        idx.extend(dup_batch, check_ids=True)
    # default off: the caller's contract, no probe, append proceeds
    assert idx.extend(clash).items.count() == idx.items.count() + 1
