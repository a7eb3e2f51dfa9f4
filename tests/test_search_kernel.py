"""The Arrow scoring kernel shared by `search` and `search_ann`: score
parity with the JVM expression, the query-side contract, block-local
top-k and the edge cases of empty inputs, zero-norm and NaN items."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from pyarrowspace_spark.operators import search as S
from pyarrowspace_spark.operators.lambda_index import lambda_kernel
from pyarrowspace_spark.operators.simsearch import lsh_hyperplanes

from .test_lsh_recall import SF_DIR

TAU = 0.62


@pytest.fixture(scope="module")
def sf_index(spark):
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.sources import loaders

    items = loaders.items_from_embeddings(spark, SF_DIR).select(
        "item_id", "features")
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.99, "k": 10, "topk": 10, "p": 2.0},
        strategy="exact")
    X = np.array([r["features"]
                  for r in items.orderBy("item_id").collect()])
    return idx, X


def _tiny_index(spark, X, lf, id_type="long"):
    """An index frame with the build's (e_raw, g) columns, no build."""
    e, g, _ = lambda_kernel(X, lf, TAU)
    return spark.createDataFrame(
        [(i, [float(v) for v in x], float(a), float(b))
         for i, (x, a, b) in enumerate(zip(X, e, g))],
        f"item_id {id_type}, features array<double>, e_raw double, g double")


def _lf(n):
    return np.eye(n) * 2 - np.ones((n, n)) / n


def _qdf(spark, Q, ids=None, id_type="long"):
    ids = list(range(len(Q))) if ids is None else ids
    return spark.createDataFrame(
        [(i, [float(v) for v in q]) for i, q in zip(ids, Q)],
        f"query_id {id_type}, features array<double>")


def _both(idx, lf, qdf, k, planes):
    """Exact and ANN results of one query frame."""
    return (S.search(idx, lf, qdf, tau=TAU, k=k),
            S.search_ann(idx, lf, qdf, tau=TAU, k=k, planes=planes))


def _rows(df):
    return sorted((r["query_id"], r["item_id"], r["rank"], r["score"])
                  for r in df.collect())


def test_search_scores_equal_sql_expression(spark, sf_index):
    """Parity pin: every exact score equals, with ==, the JVM expression
    V.blended_score(V.cosine_similarity(...)) over the same pairs."""
    from pyarrowspace_spark.functions import vector as V
    from pyarrowspace_spark.operators.lambda_index import (
        blend_lambda_cols, lambda_for_vectors)

    idx, X = sf_index
    Q = X[[3, 7, 11]] * 1.05
    got = {(r["query_id"], r["item_id"]): r["score"]
           for r in S.search(idx.items, idx.feature_laplacian, Q, tau=TAU,
                             k=len(X)).collect()}
    q_lam = lambda_for_vectors(Q, idx.feature_laplacian, TAU)
    qdf = spark.createDataFrame(
        [(i, [float(v) for v in q], float(lam))
         for i, (q, lam) in enumerate(zip(Q, q_lam))],
        "query_id long, q_features array<double>, q_lambda double")
    ref = idx.items.withColumn(
        "x_lambda", blend_lambda_cols(F.col("e_raw"), F.col("g"), TAU)
    ).crossJoin(qdf).select(
        "query_id", "item_id",
        V.blended_score(V.cosine_similarity("q_features", "features"),
                        F.col("q_lambda"), F.col("x_lambda"), TAU
                        ).alias("score"))
    want = {(r["query_id"], r["item_id"]): r["score"] for r in ref.collect()}
    assert len(got) == 3 * len(X)
    assert all(got[p] == want[p] for p in got)


def test_query_collect_bounded_by_broadcast_threshold(spark):
    n_f = 4
    X = np.random.default_rng(1).random((6, n_f)) + 0.1
    lf = _lf(n_f)
    idx = _tiny_index(spark, X, lf)
    planes = lsh_hyperplanes(n_f, n_tables=1, n_planes=2)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # room for 3 queries of 4 doubles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(3 * n_f * 8))
    try:
        for fn in (S.search, S.search_ann):
            kw = {"planes": planes} if fn is S.search_ann else {}
            with pytest.raises(ValueError, match=r"4 features.*96 B"):
                fn(idx, lf, _qdf(spark, X[:5]), tau=TAU, k=2, **kw)
            assert len(fn(idx, lf, _qdf(spark, X[:3]), tau=TAU, k=2,
                          **kw).collect()) == 6
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_duplicate_query_ids_raise(spark):
    n_f = 4
    X = np.random.default_rng(2).random((6, n_f)) + 0.1
    lf = _lf(n_f)
    idx = _tiny_index(spark, X, lf)
    qdf = _qdf(spark, X[:3], ids=[5, 9, 5])
    for df_fn in (
            lambda: S.search(idx, lf, qdf, tau=TAU, k=2),
            lambda: S.search_ann(idx, lf, qdf, tau=TAU, k=2,
                                 planes=lsh_hyperplanes(n_f, 1, 2))):
        with pytest.raises(ValueError,
                           match=r"duplicate or null query_id values \[5\]"):
            df_fn()


def test_id_types_pass_through(spark):
    """int32 ids keep their type on both paths, and non-integer query
    ids work: no int64 cast inside the kernel."""
    from pyspark.sql.types import IntegerType, StringType

    n_f = 4
    X = np.random.default_rng(3).random((6, n_f)) + 0.1
    lf = _lf(n_f)
    idx = _tiny_index(spark, X, lf, id_type="int")
    planes = lsh_hyperplanes(n_f, n_tables=1, n_planes=1)
    for df in _both(idx, lf, _qdf(spark, X[:2], id_type="int"), 3, planes):
        assert df.schema["query_id"].dataType == IntegerType()
        assert df.schema["item_id"].dataType == IntegerType()
        assert len(df.collect()) == 6
    exact, ann = _both(idx, lf, _qdf(spark, X[:2], ids=["a", "b"],
                                     id_type="string"), 3, planes)
    assert ann.schema["query_id"].dataType == StringType()
    # one table of one plane, Hamming-1 probed: every item a candidate
    assert _rows(ann) == _rows(exact)
    assert {r[0] for r in _rows(ann)} == {"a", "b"}


def test_empty_index_and_zero_queries_are_typed(spark):
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StringType)

    n_f = 4
    X = np.random.default_rng(4).random((5, n_f)) + 0.1
    lf = _lf(n_f)
    planes = lsh_hyperplanes(n_f, n_tables=2, n_planes=2)
    empty_idx = _tiny_index(spark, X[:0], lf, id_type="int")
    for df in _both(empty_idx, lf, _qdf(spark, X[:2]), 3, planes):
        assert df.collect() == []
        assert [f.dataType for f in df.schema] == [
            LongType(), IntegerType(), DoubleType(), IntegerType()]
    idx = _tiny_index(spark, X, lf)
    no_q = _qdf(spark, X[:0], id_type="string")
    for df in _both(idx, lf, no_q, 3, planes):
        assert df.collect() == []
        assert [f.dataType for f in df.schema] == [
            StringType(), LongType(), DoubleType(), IntegerType()]


def test_k_zero_returns_no_rows(spark):
    """Contract: k=0 asks for no rows and gets none (the kernel's
    per-block top-k used to index past the batch and fail the task)."""
    n_f = 4
    X = np.random.default_rng(5).random((6, n_f)) + 0.1
    lf = _lf(n_f)
    planes = lsh_hyperplanes(n_f, n_tables=2, n_planes=2)
    for df in _both(_tiny_index(spark, X, lf), lf, _qdf(spark, X[:2]), 0,
                    planes):
        assert df.collect() == []


def test_query_blocks_match_per_query_searches(spark, sf_index,
                                               monkeypatch):
    """Five queries over three query blocks return the rows five
    one-query searches return, on both paths."""
    idx, X = sf_index
    lf = idx.feature_laplacian
    planes = lsh_hyperplanes(X.shape[1], n_tables=4, n_planes=6)
    Q = X[[1, 20, 40, 60, 80]] * 1.05
    monkeypatch.setattr(S, "QUERY_BLOCK", 2)
    exact, ann = _both(idx.items, lf, _qdf(spark, Q), 7, planes)
    got_exact, got_ann = _rows(exact), _rows(ann)
    monkeypatch.undo()
    want_exact, want_ann = [], []
    for i, q in enumerate(Q):
        e, a = _both(idx.items, lf, _qdf(spark, q[None], ids=[i]), 7,
                     planes)
        want_exact += _rows(e)
        want_ann += _rows(a)
    assert len(got_exact) == 5 * 7
    assert got_exact == sorted(want_exact)
    assert got_ann == sorted(want_ann)


def test_zero_norm_and_nan_items_rank_as_spark_sorts(spark):
    """A zero-norm item scores NULL (cosine x/0) and ranks last; a NaN
    score ranks first, as Spark's descending sort puts NaN. ANN, whose
    one Hamming-1 probed plane makes every item a candidate, returns
    the same rows."""
    n_f = 6
    X = np.random.default_rng(0).random((8, n_f))
    X[3] = 0.0
    X[5, 2] = np.nan
    lf = _lf(n_f)
    idx = _tiny_index(spark, X, lf)
    planes = lsh_hyperplanes(n_f, n_tables=1, n_planes=1)
    exact, ann = _both(idx, lf, _qdf(spark, X[:1] + 0.1), 8, planes)
    rows = sorted(exact.collect(), key=lambda r: r["rank"])
    assert rows[0]["item_id"] == 5 and np.isnan(rows[0]["score"])
    assert rows[-1]["item_id"] == 3 and rows[-1]["score"] is None
    finite = [r["score"] for r in rows[1:-1]]
    assert finite == sorted(finite, reverse=True)
    a = sorted(ann.collect(), key=lambda r: r["rank"])
    assert [r["item_id"] for r in a] == [r["item_id"] for r in rows]
    assert a[-1]["score"] is None and np.isnan(a[0]["score"])
    assert [r["score"] for r in a[1:-1]] == finite
