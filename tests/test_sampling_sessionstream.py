"""Builder inline sampling (SURVEY §2 G7) and stateful streaming
sessionization (applyInPandasWithState)."""

import json
import os
import tempfile
import uuid

import pyspark.sql.functions as F
import pytest

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.sources import loaders
from pyarrowspace_spark.streaming.sessionize_stream import sessionize_stream

SF_DIR = "/root/testdata/sf0.001"


def test_sampled_build_indexes_all_items(spark):
    items = loaders.items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features")
    n = items.count()
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.9, "k": 10, "topk": 5, "p": 2.0},
        strategy="exact", sample_rate=0.6, seed=42)
    # graph built on the sample; lambda materialized for every item
    assert idx.items.count() == n
    graph_nodes = idx.edges.select(
        F.explode(F.array("src", "dst")).alias("n")).distinct().count()
    assert graph_nodes < n
    # seeded determinism
    idx2 = ArrowSpaceBuilder.build(
        items, {"eps": 0.9, "k": 10, "topk": 5, "p": 2.0},
        strategy="exact", sample_rate=0.6, seed=42)
    assert idx2.edges.count() == idx.edges.count()
    assert idx2.tau_synth == pytest.approx(idx.tau_synth, abs=1e-12)


MIN_US = 60 * 1_000_000


def test_sessionize_stream_closes_on_gap(spark):
    src = tempfile.mkdtemp(prefix="pas_sess_src_")
    t0 = 1_700_000_000_000_000  # epoch micros

    def feed(q, rows):
        path = os.path.join(src, f"{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            for user, ts in rows:
                f.write(json.dumps({"user_id": user, "ts_us": ts}) + "\n")
        q.processAllAvailable()

    stream = spark.readStream.schema("user_id long, ts_us long").json(src)
    sessions = sessionize_stream(stream, gap_minutes=30)
    q = (sessions.writeStream.format("memory").queryName("sess_stream")
         .outputMode("update").start())
    try:
        # batch 1: user 1 two close events; user 2 one event
        feed(q, [(1, t0), (1, t0 + 10 * MIN_US), (2, t0)])
        assert spark.table("sess_stream").count() == 0  # nothing closed
        # batch 2: user 1 event 120 min later -> closes session 1
        feed(q, [(1, t0 + 130 * MIN_US)])
        rows = spark.table("sess_stream").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["user_id"] == 1 and r["n_events"] == 2
        assert (r["session_end"] - r["session_start"]).total_seconds() == 600
        # batch 3: another gap closes the singleton second session
        feed(q, [(1, t0 + 300 * MIN_US)])
        rows = {(r["user_id"], r["n_events"],
                 int(r["session_start"].timestamp() * 1e6))
                for r in spark.table("sess_stream").collect()}
        assert (1, 1, t0 + 130 * MIN_US) in rows
    finally:
        q.stop()


def test_sessionize_stream_rejects_batch_df(spark):
    events = loaders.load_events(spark, SF_DIR)
    with pytest.raises(ValueError):
        sessionize_stream(events)


def test_index_save_load_roundtrip(spark, tmp_path):
    import numpy as np

    from pyarrowspace_spark.operators.search import search

    items = loaders.items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features")
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.9, "k": 10, "topk": 5, "p": 2.0}, strategy="exact")
    path = str(tmp_path / "index")
    idx.save(path)
    from pyarrowspace_spark.builder import ArrowSpaceIndex
    idx2 = ArrowSpaceIndex.load(spark, path)
    assert idx2.nitems == idx.nitems
    assert idx2.n_features == idx.n_features
    assert idx2.tau_synth == pytest.approx(idx.tau_synth, rel=1e-12)
    assert np.array_equal(idx2.feature_laplacian, idx.feature_laplacian)
    q = np.array(items.filter("item_id = 7").first()["features"]) * 1.05
    r1 = search(idx.items, idx.feature_laplacian, q, tau=0.62, k=5).collect()
    r2 = search(idx2.items, idx2.feature_laplacian, q, tau=0.62, k=5).collect()
    assert [(r["item_id"], round(r["score"], 9)) for r in sorted(r1, key=lambda r: r["rank"])] == \
           [(r["item_id"], round(r["score"], 9)) for r in sorted(r2, key=lambda r: r["rank"])]


def test_extend_index_matches_full_build_lambda(spark, test0_items_df):
    """Extending an index with held-out items gives them the SAME
    lambda a from-scratch build over the full set would NOT (the graph
    is frozen) — but exactly the lambda the frozen-Laplacian contract
    promises: identical to items indexed by the original build when the
    vectors already belonged to the build corpus."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder

    params = {"eps": 0.05, "k": 5, "topk": 3, "p": 2.0, "sigma": 0.05}
    base = ArrowSpaceBuilder.build(test0_items_df, params, strategy="exact")
    # re-add the SAME vectors under new ids: frozen-artifact lambda
    # must equal the build-time lambda of the originals
    readd = test0_items_df.select(
        (F.col("item_id") + 100).alias("item_id"), "features")
    ext = ArrowSpaceBuilder.extend(base, readd)
    assert ext.nitems == 10
    lams = {r["item_id"]: r["lambda"] for r in ext.lambdas().collect()}
    for i in range(5):
        assert lams[i + 100] == pytest.approx(lams[i], rel=1e-12)
    # search over the extended index sees the clones at identical score
    import numpy as np
    from pyarrowspace_spark.operators.search import search

    q = np.array(test0_items_df.filter("item_id = 2").first()["features"])
    hits = search(ext.items, ext.feature_laplacian, q * 1.05, tau=0.9, k=4)
    got = [r["item_id"] for r in hits.orderBy("rank").collect()]
    assert set(got) >= {1, 101}  # clone pairs rank together
    # feature-count guard
    bad = spark.createDataFrame([(999, [1.0, 2.0])],
                                "item_id long, features array<double>")
    with pytest.raises(ValueError, match="features"):
        ArrowSpaceBuilder.extend(base, bad)
