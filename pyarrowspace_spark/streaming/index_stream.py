"""Structured Streaming surface: incremental index maintenance.

The reference has NO streaming surface (SURVEY §2.11) — this is the
additive Spark-native design (SURVEY §7.1 M7): new items arrive on a
stream, are λ-indexed incrementally against a FROZEN base index
(broadcast F×F Laplacian), and appended to the index table; windowed
monitoring aggregates run on the same stream.

Design for scale: the expensive artifacts (graph, L_F, τ) are batch
products; the streaming path only runs the NARROW per-item λ pass —
exactly the part that needs no shuffle — so micro-batch latency is
independent of index size. Full graph/L_F refresh is a periodic batch
job (the classic lambda-architecture split), not a streaming op.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.lambda_index import with_lambda


def incremental_lambda_stream(
    stream_items: DataFrame,
    lf: np.ndarray,
    tau: float,
    feat_col: str = "features",
) -> DataFrame:
    """Append-mode streaming DataFrame with `e_raw`, `g` and `lambda`
    computed against the frozen base index's feature Laplacian and τ by
    the one λ pass (`lambda_index.with_lambda`), as `extend` computes
    them. Works on any streaming source with an array<double> feature
    column."""
    if not stream_items.isStreaming:
        raise ValueError("expected a streaming DataFrame (readStream source)")
    return with_lambda(stream_items, lf, tau, feat_col=feat_col)


def windowed_event_rollup(
    stream_events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming form of the batch hourly rollup (operators/analytics.
    events_hourly_rollup): tumbling window + watermark for late data.
    Emits one row per (window, event_type) in append mode once the
    watermark passes."""
    if not stream_events.isStreaming:
        raise ValueError("expected a streaming DataFrame (readStream source)")
    return (
        stream_events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def run_incremental_index_demo(
    spark,
    lf: np.ndarray,
    tau: float,
    batches: list[list[tuple]],
    schema: str = "item_id long, features array<double>",
) -> DataFrame:
    """Drive the incremental-λ stream through the in-memory source:
    feeds `batches` one micro-batch at a time, returns the accumulated
    indexed rows (memory sink table `indexed_stream`).

    This is the testable harness for the streaming path — swap the
    file source for kafka in production; the query plan is identical.
    """
    import json
    import os
    import tempfile
    import uuid

    src_dir = tempfile.mkdtemp(prefix="pas_stream_src_")
    stream = (
        spark.readStream.schema(schema).format("json").load(src_dir)
    )
    indexed = incremental_lambda_stream(stream, lf, tau)
    q = (
        indexed.writeStream.format("memory")
        .queryName("indexed_stream")
        .outputMode("append")
        .start()
    )
    try:
        for batch in batches:
            path = os.path.join(src_dir, f"{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                for item_id, feats in batch:
                    f.write(json.dumps(
                        {"item_id": int(item_id),
                         "features": [float(v) for v in feats]}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("indexed_stream")
