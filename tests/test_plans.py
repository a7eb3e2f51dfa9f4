"""Physical-plan regression guards: the scale properties we claim
(pushdown, pruning, broadcast, no accidental cartesian shuffles) must
be visible in `.explain` output, not just intended."""

import io
import contextlib

import pytest
import pyspark.sql.functions as F

import __spark_entry__ as em

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def cold_catalog(spark):
    """Plan guards assert against the cold plan. Earlier tests may have
    persisted a DataFrame whose plan subtree matches our scans (e.g.
    build_energy persists `select item_id, features from embeddings`);
    CacheManager would then substitute InMemoryTableScan and hide the
    parquet PushedFilters we're asserting on."""
    spark.catalog.clearCache()
    em._INDEX_CACHE.clear()
    yield


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(em.q_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: only the 6 needed columns reach the scan
    assert "l_comment" not in plan


def test_cosine_topk_broadcasts_queries(spark):
    plan = _plan(em.q_cosine_topk(spark, SF_DIR))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    # query-side filter reaches the scan
    assert "LessThan(vec_id,10)" in plan


def test_search_has_no_python_row_udf(spark):
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.search import search
    from pyarrowspace_spark.sources import loaders

    items = loaders.items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features")
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.9, "k": 10, "topk": 5, "p": 2.0}, strategy="exact")
    queries = items.limit(2).select(
        F.col("item_id").alias("query_id"), "features")
    plan = _plan(search(idx.items, idx.feature_laplacian, queries,
                        tau=0.62, k=5))
    # row-at-a-time Python UDFs never appear anywhere
    assert "BatchEvalPython" not in plan
    # no (query × item) join: one Arrow kernel scans the index in place
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    # the only shuffle is the ranking window's, on the query id
    assert tree.count("Exchange") == 1
    assert plan.count("Arguments: hashpartitioning(query_id#") == 1
    # the ranking operators above the kernel are pure JVM
    ranking = tree.split("MapInPandas")[0]
    assert "Window" in ranking
    assert "EvalPython" not in ranking


def test_energy_search_is_one_kernel_without_joins(spark):
    """Energy search runs as one Arrow kernel over the shortlisted
    members: no query×centroid or shortlist×member join, and the only
    shuffle is the ranking window's, on the query id."""
    import numpy as np

    from pyarrowspace_spark.operators import energy as E
    from pyarrowspace_spark.params import EnergyParams, GraphParams
    from pyarrowspace_spark.sources import loaders

    items = loaders.items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features")
    idx = E.build_energy(
        items, EnergyParams(optical_tokens=8, eta=0.05, steps=1),
        GraphParams(eps=0.9, k=10, topk=5, p=2.0))
    q = np.array([r["features"] for r in items.limit(3).collect()])
    plan = _plan(E.search_energy(idx, q, k=5))
    # the search's own operators: the tree above the cached items scan
    # (the build's lineage is printed under it)
    tree = plan.split("\n\n")[0].split("InMemoryTableScan")[0]
    for join in ("BroadcastNestedLoopJoin", "BroadcastHashJoin",
                 "SortMergeJoin", "CartesianProduct"):
        assert join not in tree
    assert "BatchEvalPython" not in plan
    assert tree.count("MapInPandas") == 1
    assert tree.count("Exchange") == 1
    assert plan.count("Arguments: hashpartitioning(query_id#") == 1


def test_minhash_no_cartesian(spark):
    plan = _plan(em.q_minhash_band_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_text_embed_scan_prunes_columns(spark):
    """The embed source must read only (doc_id, text) — a featurizer
    that drags all document columns through the scan wastes IO at
    100 TB."""
    plan = _plan(em.q_text_embed(spark, SF_DIR))
    assert "ArrowEvalPython" in plan          # batched, not row-at-a-time
    assert "lang" not in plan and "n_chars" not in plan


def test_scrub_pii_is_narrow(spark):
    """scrub_pii is a pure projection: no Exchange in the plan."""
    from pyarrowspace_spark.operators.quality import scrub_pii

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(scrub_pii(docs))
    assert "Exchange" not in plan


def test_repetition_signals_no_cartesian(spark):
    plan = _plan(em.q_repetition_signals(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_index_save_joins_without_exchange(spark, tmp_path):
    """save(table_prefix=...) writes bucketed+sorted tables: a
    self-join of the saved items on item_id must read co-located
    buckets — no shuffle Exchange on either side."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.sources import loaders

    items = loaders.items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features").limit(200)
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.95, "k": 5, "topk": 3, "p": 2.0}, strategy="exact")
    spark.sql("DROP TABLE IF EXISTS t4_items")
    spark.sql("DROP TABLE IF EXISTS t4_edges")
    idx.save(str(tmp_path / "idx"), table_prefix="t4", n_buckets=4)

    a = spark.table("t4_items").select("item_id", "lambda")
    b = spark.table("t4_items").select("item_id", "e_raw")
    joined = a.join(b, "item_id")
    # disable broadcast so the test exercises the sort-merge path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == 200
