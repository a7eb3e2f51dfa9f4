"""λ-aware top-k search (reference ArrowSpace.search, src/lib.rs:132-174).

score(q, x) = τ·cos(q,x) + (1-τ)·1/(1+|λ_q - λ_x|)   (TAUMODE.md:33)

Both λ_q and λ_x are synthesized with the *search-time* τ as bounding
scale and mixing weight ("τ supplied externally … reused both as the
bounding scale and as the mixing weight", TAUMODE.md) — pinned by the
reference golden τ=0.9 ranking (tests/test_0.py:35-42).

Physical plan, one for exact `search` and LSH `search_ann`
(`_score_topk`): the query side (λ_q, norms, ANN bucket codes) is
computed on the driver and broadcast; one `mapInPandas` kernel scans
the index in place, scores each Arrow batch against fixed-size query
blocks — every item, or only an ANN query's bucket candidates — and
emits per query just the rows that can still reach the global top k;
a per-query ranking window on (score desc, id asc) picks the k. One
shuffle per query batch, on query_id.

Scores are bit-identical to the JVM expression
`V.blended_score(V.cosine_similarity(...))`: dots and norms are
sequential folds over the features (the order of
`aggregate(zip_with(...))`) and the blend keeps its operation order. A
zero-norm vector scores NULL (Spark's non-ANSI x/0) and ranks last; a
NaN score ranks first, where Spark's descending sort puts NaN.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import vector as V
from .lambda_index import lambda_kernel, lambda_for_vectors

# Queries scored together against one Arrow batch of the index: bounds
# a batch's working set whatever the number of queries.
QUERY_BLOCK = 64


def fold_dot(terms):
    """Σ_j a_j·b_j over (a_j, b_j) array pairs as one sequential IEEE
    fold, one multiply and one add per step: Spark's
    aggregate(zip_with(a, b, x*y), 0.0, acc + x) bit for bit (a BLAS
    gemm reorders the sum and can flip near-tie ranks)."""
    acc = 0.0
    for a, b in terms:
        acc += a * b
    return acc


def check_query_ids(qids, query_id_col: str = "query_id") -> None:
    """Query ids label output rows, so they must be unique and non-null:
    a repeated id would merge two queries' top k into one."""
    dup = [q for q, n in Counter(qids).items() if n > 1 or q is None]
    if dup:
        raise ValueError(f"duplicate or null {query_id_col} values "
                         f"{dup[:5]}: each query needs a unique id")


def _collect_queries(queries: DataFrame, lf: np.ndarray, tau: float,
                     query_id_col: str, feat_col: str):
    """The query-side contract of `search` and `search_ann`: collect a
    DataFrame[query_id, features] as (query-id type, ids, m×F matrix,
    λ_q). m·F·8 bytes must fit the session's
    `spark.sql.autoBroadcastJoinThreshold` (Spark's 10 MB default when
    it is disabled), and the collect stops at max_q + 1 rows. Ids must
    be unique and non-null; their type carries through to the result.
    """
    n_f = lf.shape[0]
    budget = queries.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    budget = budget if budget > 0 else 10 << 20
    max_q = max(1, budget // (8 * n_f))
    # A sorted limit collects in one job (TakeOrderedAndProject); a bare
    # limit scans the partitions in rounds of jobs.
    rows = (queries.select(query_id_col, feat_col).orderBy(query_id_col)
            .limit(max_q + 1).collect())
    if len(rows) > max_q:
        raise ValueError(
            f"more than {max_q} queries: m >= {len(rows)} × F = {n_f} "
            f"features × 8 B exceed the {budget} B query budget "
            "(spark.sql.autoBroadcastJoinThreshold); split the batch")
    qids = [r[0] for r in rows]
    check_query_ids(qids, query_id_col)
    if any(r[1] is None or len(r[1]) != n_f for r in rows):
        raise ValueError(f"every query needs {n_f} features (the index's)")
    Q = np.array([r[1] for r in rows], dtype=np.float64).reshape(-1, n_f)
    _, _, q_lam = lambda_kernel(Q, lf, float(tau))
    return queries.schema[query_id_col].dataType, np.asarray(qids), Q, q_lam


def ranked(scored: DataFrame, k: int, id_col: str,
           query_id_col: str) -> DataFrame:
    """Per-query top k of (query, id, score) rows, rank 1-based on
    (score desc, id asc)."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.lit(int(k))))


def block_topk(S, null, valid, k: int) -> np.ndarray:
    """Mask of one block's (query, row) cells that can still reach their
    query's global top k: valid cells scoring at least the block's k-th
    score, ties included. NaN sorts above every number and NULL below,
    as in Spark's descending sort."""
    if k < 1:
        return np.zeros_like(valid)
    key = np.where(np.isnan(S), np.inf, S)
    key[null | ~valid] = -np.inf
    n = S.shape[1]
    if n <= k:
        return valid
    return valid & (key >= np.partition(key, n - k, axis=1)[:, n - k, None])


def _score_topk(index: DataFrame, lf: np.ndarray, tau: float, k: int,
                query_side, id_col: str, feat_col: str, query_id_col: str,
                q_buckets: np.ndarray | None = None,
                probe_hamming1: bool = False) -> DataFrame:
    """The one scoring plan of `search` and `search_ann`.

    `query_side` is (query-id type, ids, Q, λ_q). Item λ is blended
    from the build's (e_raw, g) at the search τ when present, else
    recomputed per batch by `lambda_kernel`. Given `q_buckets`, an
    item is a candidate of a query when, in any table, bucket ^ qbucket
    is 0, or a power of two under `probe_hamming1`: the Hamming-1 probe
    set, with no duplicates, and only candidates are scored.
    """
    import pandas as pd
    import pyarrow as pa

    qid_type, qids, Q, q_lam = query_side
    t, k = float(tau), int(k)
    has_eg = "e_raw" in index.columns and "g" in index.columns
    bcols = ([] if q_buckets is None
             else [f"bucket_{i}" for i in range(q_buckets.shape[1])])
    out_schema = T.StructType([
        T.StructField(query_id_col, qid_type),
        T.StructField(id_col, index.schema[id_col].dataType),
        T.StructField("score", T.DoubleType())])
    QT = np.ascontiguousarray(Q.T)
    bq = index.sparkSession.sparkContext.broadcast({
        "qids": qids, "QT": QT, "lam": q_lam, "qb": q_buckets,
        "qn": np.sqrt(fold_dot((c, c) for c in QT)),
        "lf": None if has_eg else lf})

    def kernel(batches):
        qv = bq.value
        m = len(qv["qids"])
        for pdf in batches:
            if not (len(pdf) and m):
                continue
            X = np.stack(pdf[feat_col].to_numpy()).astype(np.float64)
            XT = np.ascontiguousarray(X.T)
            xn = np.sqrt(fold_dot((c, c) for c in XT))
            if has_eg:
                e = pdf["e_raw"].to_numpy(np.float64)
                xl = t * (e / (e + t)) + (1.0 - t) * pdf["g"].to_numpy(
                    np.float64)
            else:
                xl = lambda_kernel(X, qv["lf"], t)[2]
            ids = pdf[id_col].to_numpy()
            xb = pdf[bcols].to_numpy(np.int64)
            for b0 in range(0, m, QUERY_BLOCK):
                blk = slice(b0, min(b0 + QUERY_BLOCK, m))
                shape = (blk.stop - b0, len(X))
                if q_buckets is None:
                    valid = np.ones(shape, dtype=bool)
                    qi, ri = np.ogrid[:shape[0], :shape[1]]
                else:
                    valid = np.zeros(shape, dtype=bool)
                    for tb in range(len(bcols)):
                        d = qv["qb"][blk, tb, None] ^ xb[None, :, tb]
                        valid |= ((d & (d - 1)) == 0 if probe_hamming1
                                  else d == 0)
                    qi, ri = np.nonzero(valid)
                dots = fold_dot((q[blk][qi], x[ri]) for q, x in zip(QT, XT))
                den = qv["qn"][blk][qi] * xn[ri]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / den
                S = np.full(shape, np.nan)
                null = np.zeros(shape, dtype=bool)
                S[qi, ri] = t * cos + (1.0 - t) * (
                    1.0 / (1.0 + np.abs(qv["lam"][blk][qi] - xl[ri])))
                null[qi, ri] = den == 0
                oq, orow = np.nonzero(block_topk(S, null, valid, k))
                yield pd.DataFrame({
                    query_id_col: qv["qids"][blk][oq],
                    id_col: ids[orow],
                    # Arrow-backed, so NaN stays NaN and x/0 is NULL
                    "score": pd.arrays.ArrowExtensionArray(
                        pa.array(S[oq, orow], mask=null[oq, orow]))})

    cols = [id_col, feat_col] + (["e_raw", "g"] if has_eg else []) + bcols
    return ranked(index.select(*cols).mapInPandas(kernel, out_schema), k,
                  id_col, query_id_col)


def search(
    index: DataFrame,
    lf: np.ndarray,
    queries: DataFrame | np.ndarray,
    tau: float,
    k: int,
    id_col: str = "item_id",
    feat_col: str = "features",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k λ-aware search: every item of `index` is scored.

    `index` must carry (id_col, feat_col); with the build's (e_raw, g)
    item λ at the search τ is their blend, else the kernel recomputes
    it. Queries may be a DataFrame[query_id, features] (the
    `_collect_queries` contract) or a local ndarray whose rows get ids
    0..m-1 (the reference promotes single vectors to ArrowItem,
    src/lib.rs:168).

    Returns DataFrame[query_id, item_id, score, rank], rank 1-based,
    exactly k rows per query (fewer only if corpus < k), both ids typed
    as in the inputs.
    """
    if isinstance(queries, np.ndarray):
        Q = np.atleast_2d(np.asarray(queries, dtype=np.float64))
        if Q.shape[1] != lf.shape[0]:
            # Reference validates query length == nfeatures (src/lib.rs:140-146).
            raise ValueError(
                f"query has {Q.shape[1]} features, index has {lf.shape[0]}"
            )
        query_side = (T.LongType(), np.arange(len(Q)), Q,
                      lambda_for_vectors(Q, lf, tau))
    else:
        query_side = _collect_queries(queries, lf, tau, query_id_col,
                                      feat_col)
    return _score_topk(index, lf, tau, k, query_side, id_col, feat_col,
                       query_id_col)


def search_hybrid(
    index: DataFrame,
    lf: np.ndarray,
    queries: DataFrame | np.ndarray,
    tau: float,
    k: int,
    **kwargs,
) -> DataFrame:
    """Reference `search_hybrid` (src/lib.rs:182-219) — same inputs and
    blend family as `search`; the crate-internal variant formula is not
    published (SURVEY §2.11 spec gap) AND no reference test or output
    log ever calls search_hybrid (grep over tests/: zero call sites —
    the harness "Hybrid (τ=0.8)" blocks all use plain `search`, e.g.
    tests/test_2_CVE_db.py:585-587), so there is no observable behavior
    to match. We pin hybrid == lambda-aware and keep the entry point
    for API parity."""
    return search(index, lf, queries, tau, k, **kwargs)


def search_ann(
    index: DataFrame,
    lf: np.ndarray,
    queries: DataFrame,
    tau: float,
    k: int,
    planes: np.ndarray,
    probe_hamming1: bool = True,
    id_col: str = "item_id",
    feat_col: str = "features",
    query_id_col: str = "query_id",
) -> DataFrame:
    """λ-aware top-k search with SUBLINEAR candidate generation: the
    score of `search`, bit for bit, for sign-LSH bucket candidates only
    (Hamming-1 multi-probe on the query side by default), so scoring
    costs O(bucket · tables) per query instead of a corpus scan. Recall
    inherits the ANN operator's contract; `search` remains the exact
    path. `index` must carry the build's (e_raw, g) columns; queries
    follow the `_collect_queries` contract.
    """
    from .simsearch import lsh_bucket_codes, lsh_bucketed

    if "bucket_0" not in index.columns:
        index = index.select(id_col, feat_col, "e_raw", "g")
    hashed = lsh_bucketed(index, planes, feat_col)
    query_side = _collect_queries(queries, lf, tau, query_id_col, feat_col)
    return _score_topk(hashed, lf, tau, k, query_side, id_col, feat_col,
                       query_id_col, lsh_bucket_codes(query_side[2], planes),
                       probe_hamming1)


def brute_force_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "item_id",
    feat_col: str = "features",
    query_id_col: str = "query_id",
    query_feat_col: str = "features",
) -> DataFrame:
    """Exact cosine top-k — the harness baseline (reference
    tests/test_3_beir.py:280-286 `np.argsort(-sims)[:k]`).

    Broadcast the query side; corpus scan stays partition-parallel.
    """
    qdf = queries.select(
        F.col(query_id_col), F.col(query_feat_col).alias("q_features")
    )
    scored = items.join(F.broadcast(qdf)).select(
        query_id_col,
        id_col,
        V.cosine_similarity("q_features", feat_col).alias("score"),
    )
    return ranked(scored, k, id_col, query_id_col)
