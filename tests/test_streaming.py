"""Structured Streaming surface (SURVEY §7.1 M7 — additive; the
reference has no streaming). Checks that the incremental λ stream
produces EXACTLY the same λ values as the batch operator, and that the
windowed rollup matches its batch twin."""

import os
import tempfile

import numpy as np
import pyspark.sql.functions as F
import pytest

from pyarrowspace_spark.operators import knn as KNN
from pyarrowspace_spark.operators import lambda_index as LI
from pyarrowspace_spark.params import GraphParams
from pyarrowspace_spark.sources import loaders
from pyarrowspace_spark.streaming import index_stream as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def base_index(spark, test0_items_df):
    params = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = KNN.knn_edges(test0_items_df, params, strategy="exact")
    lf = LI.feature_laplacian(test0_items_df, edges, n_features=24)
    comp, tau = LI.components_with_median(test0_items_df, lf,
                                          test0_items_df.count())
    comp.unpersist()
    return lf, tau


def test_incremental_lambda_matches_batch(spark, test0_items_df, base_index):
    lf, tau = base_index
    rows = test0_items_df.collect()
    batches = [
        [(r["item_id"] + 100, r["features"]) for r in rows[:3]],
        [(r["item_id"] + 100, r["features"]) for r in rows[3:]],
    ]
    streamed = S.run_incremental_index_demo(spark, lf, tau, batches)
    got = {r["item_id"]: r["lambda"] for r in streamed.collect()}
    assert len(got) == len(rows)

    batch = LI.with_lambda(test0_items_df, lf, tau)
    want = {r["item_id"] + 100: r["lambda"] for r in batch.collect()}
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_incremental_stream_rejects_batch_df(test0_items_df, base_index):
    lf, tau = base_index
    with pytest.raises(ValueError):
        S.incremental_lambda_stream(test0_items_df, lf, tau)


def test_windowed_rollup_matches_batch(spark):
    events = loaders.load_events(spark, SF_DIR).select(
        "ts", "event_type", "value").limit(2000)
    src = tempfile.mkdtemp(prefix="pas_events_src_")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    rolled = S.windowed_event_rollup(stream, window="1 hour",
                                     watermark="2 hours")
    q = (rolled.writeStream.format("memory").queryName("rollup_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["window"]["start"], r["event_type"]):
           (r["n_events"], round(r["sum_value"], 6))
           for r in spark.table("rollup_stream").collect()}

    batch = (spark.read.parquet(src)
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n"), F.sum("value").alias("s")))
    want = {(r["window"]["start"], r["event_type"]):
            (r["n"], round(r["s"], 6)) for r in batch.collect()}
    assert got == want


def test_dedup_stream_matches_batch_keeplist(spark):
    """Streaming exact-dedup must agree with the batch fingerprint
    groups: one keep=True per fingerprint (the min doc id, since all
    docs arrive in one availableNow batch), duplicates tagged False."""
    from pyarrowspace_spark.operators.dedup import exact_duplicates
    from pyarrowspace_spark.streaming.dedup_stream import dedup_stream

    docs = loaders.load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text").limit(300)
    src = tempfile.mkdtemp(prefix="pas_docs_src_")
    docs.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    tagged = dedup_stream(stream)
    q = (tagged.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["doc_id"]: (r["fingerprint"], r["keep"])
           for r in spark.table("dedup_stream").collect()}
    batch_groups = exact_duplicates(spark.read.parquet(src)).collect()
    keep_ids = {r["fingerprint"]: r["keep_id"] for r in batch_groups}
    assert len(got) == 300
    for doc_id, (fp, keep) in got.items():
        assert keep == (keep_ids[fp] == doc_id)
    assert sum(k for _, k in got.values()) == len(keep_ids)

    # rejects batch input
    import pytest as _pt
    with _pt.raises(ValueError, match="streaming"):
        dedup_stream(docs)
