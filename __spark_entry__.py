"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or an
LLM-data-pipeline extension) implemented Spark-first in
``pyarrowspace_spark``; ``oracle_sql()`` holds the exactly-equivalent
DuckDB SQL. Floats are rounded identically on both sides; integer
outputs are cast to BIGINT on both sides so value-hashes agree.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyarrowspace_spark.functions import text as T
from pyarrowspace_spark.functions import vector as V
from pyarrowspace_spark.operators import analytics as A
from pyarrowspace_spark.operators import dedup as D
from pyarrowspace_spark.operators import metrics as M
from pyarrowspace_spark.operators import knn as KNN
from pyarrowspace_spark.operators import quality as Q
from pyarrowspace_spark.operators.search import brute_force_cosine_topk
from pyarrowspace_spark.params import GraphParams
from pyarrowspace_spark.sources import loaders

# ---------------------------------------------------------------------------
# shared constants (mirrored into the oracle SQL below)
# ---------------------------------------------------------------------------
N_QUERIES = 10          # embeddings with vec_id < N_QUERIES act as queries
TOPK = 10
KNN_EPS = 0.99
KNN_K = 10
KNN_P = 2.0
KNN_SIGMA = 0.495
JACCARD_N = 3
JACCARD_T = 0.2
NEARDUP_COS_T = 0.3
SIMHASH_BITS = 32
IR_N_QUERIES = 20

_pkg_shipped = False


def _ship_package(spark: SparkSession) -> None:
    """Make pyarrowspace_spark importable on executors (zip + addPyFile).

    Needed only by entries that run pandas_udf kernels; pure-SQL
    entries never leave the JVM.
    """
    global _pkg_shipped
    if _pkg_shipped:
        return
    import shutil
    import tempfile

    zip_base = os.path.join(tempfile.gettempdir(), "pyarrowspace_spark_pkg")
    zip_path = shutil.make_archive(zip_base, "zip", _REPO, "pyarrowspace_spark")
    spark.sparkContext.addPyFile(zip_path)
    _pkg_shipped = True


def _items(spark: SparkSession, sf_dir: str) -> DataFrame:
    return loaders.items_from_embeddings(spark, sf_dir)


_INDEX_CACHE: dict[str, object] = {}


def _get_index(spark: SparkSession, sf_dir: str):
    """Shared standard index (canonical KNN_* params) — six queries use
    the identical build; memoize per sf_dir so the driver's correctness
    run builds it once (the cached DataFrames are persisted)."""
    if sf_dir not in _INDEX_CACHE:
        from pyarrowspace_spark.builder import ArrowSpaceBuilder

        _ship_package(spark)
        items = _items(spark, sf_dir).select("item_id", "features")
        idx = ArrowSpaceBuilder.build(
            items,
            {"eps": KNN_EPS, "k": KNN_K, "topk": TOPK, "p": KNN_P,
             "sigma": KNN_SIGMA},
            strategy="exact",
        )
        idx.items.persist().count()
        _INDEX_CACHE[sf_dir] = idx
    return _INDEX_CACHE[sf_dir]


# ---------------------------------------------------------------------------
# flagship entry (driver smoke check, sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the spectral index on sf0.001 embeddings and run
    a λ-aware top-k search for 3 perturbed corpus vectors."""
    import numpy as np

    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.search import search

    _ship_package(spark)
    items = _items(spark, "/root/testdata/sf0.001").select("item_id", "features")
    idx = ArrowSpaceBuilder.build(
        items, {"eps": 0.9, "k": 10, "topk": 5, "p": 2.0}, strategy="exact"
    )
    qrows = items.filter(F.col("item_id").isin([3, 7, 11])).collect()
    q = np.array([r["features"] for r in qrows], dtype=np.float64) * 1.05
    return search(idx.items, idx.feature_laplacian, q, tau=0.62, k=5)


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (SURVEY §2 J2/W1/W3)."""
    items = _items(spark, sf_dir).select("item_id", "features")
    queries = items.filter(F.col("item_id") < N_QUERIES).select(
        F.col("item_id").alias("query_id"), "features"
    )
    out = brute_force_cosine_topk(items, queries, TOPK)
    return out.select(
        "query_id", "item_id", F.col("rank").cast("long").alias("rank"),
        F.round("score", 4).alias("score_r"),
    )


def q_knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """λτ-graph edge list (SURVEY §2 J1/G1/P2-P4/W2)."""
    items = _items(spark, sf_dir).select("item_id", "features")
    params = GraphParams(eps=KNN_EPS, k=KNN_K, topk=TOPK, p=KNN_P, sigma=KNN_SIGMA)
    edges = KNN.knn_edges(items, params, strategy="exact")
    return edges.select(
        "src", "dst", F.round("dist", 6).alias("dist_r"),
        F.round("weight", 6).alias("weight_r"),
    )


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplacian diagonal / weighted degrees (SURVEY §2 A1)."""
    items = _items(spark, sf_dir).select("item_id", "features")
    params = GraphParams(eps=KNN_EPS, k=KNN_K, topk=TOPK, p=KNN_P, sigma=KNN_SIGMA)
    deg = KNN.degrees(KNN.knn_edges(items, params, strategy="exact"))
    return deg.select("node", F.round("degree", 6).alias("degree_r"))


def q_ir_quality_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 / MRR / nDCG@10 against label-relevance (SURVEY §2.8
    M1-M3) for cosine rankings."""
    items = _items(spark, sf_dir)
    corpus = items.select("item_id", "features", "label")
    queries = corpus.filter(F.col("item_id") < IR_N_QUERIES)
    ranked = brute_force_cosine_topk(
        corpus, queries.select(F.col("item_id").alias("query_id"), "features"),
        TOPK + 1,
    ).filter(F.col("query_id") != F.col("item_id"))
    # re-rank after dropping self-hit
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rank")
    # persist: all three metric operators join against these — without
    # it the broadcast-cosine ranking is recomputed once per metric
    rankings = ranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK
    ).select("query_id", "item_id", "rank").persist()

    qrels = (
        queries.select(F.col("item_id").alias("query_id"), F.col("label").alias("ql"))
        .join(corpus.select(F.col("item_id"), F.col("label")), F.col("label") == F.col("ql"))
        .filter(F.col("query_id") != F.col("item_id"))
        .select("query_id", "item_id", F.lit(1).alias("relevance"))
        .persist()
    )
    rec = M.recall_at_k(rankings, qrels, TOPK)
    mrr_df = M.mrr(rankings, qrels)
    ndcg_df = M.ndcg_at_k(rankings, qrels, TOPK)
    return (
        rec.join(mrr_df, "query_id").join(ndcg_df, "query_id")
        .select(
            "query_id", F.round("recall", 6).alias("recall_r"),
            F.round("mrr", 6).alias("mrr_r"), F.round("ndcg", 6).alias("ndcg_r"),
        )
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation (relational surface, SURVEY §2.4)."""
    return A.pricing_summary(loaders.load_table(spark, sf_dir, "lineitem")).select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "avg_qty", "avg_disc",
        F.col("count_order").cast("long").alias("count_order"),
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + per-group top-k window (SURVEY §2.5 W1 on
    relational data; broadcast joins for dims)."""
    out = A.top_customers_by_revenue(
        loaders.load_table(spark, sf_dir, "orders"),
        loaders.load_table(spark, sf_dir, "customer"),
        loaders.load_table(spark, sf_dir, "nation"),
        k=5,
    )
    return out.select(
        "n_name", "c_custkey", "revenue", F.col("rank").cast("long").alias("rank")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (batch form of the streaming windowed
    agg). Buckets computed in epoch micros — timezone-proof on any
    driver session."""
    ev = loaders.load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.expr("ts_us div 3600000000").alias("hour_id"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: click → most recent prior view per user (one pass,
    user-partitioned time-ordered window; see analytics.asof_join_last_view)."""
    from pyspark.sql import Window

    ev = loaders.load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "prev_view_us",
            F.last(F.when(F.col("event_type") == "view", F.col("ts_us")),
                   ignorenulls=True).over(w),
        )
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts_us", "prev_view_us")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min), epoch-micros arithmetic."""
    from pyspark.sql import Window

    ev = loaders.load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content fingerprint."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    out = D.exact_duplicates(docs)
    return out.select(
        "fingerprint", F.col("n_docs").cast("long").alias("n_docs"), "keep_id"
    )


def q_text_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 embedding source: batched text→vector featurization
    (reference build_embeddings, tests/test_2_CVE_db.py:146-154; batch
    loop tests/test_6_beir_new_score.py:149-199). Deterministic
    feature-hashing codec (portable_hash60 buckets + signs, L2 norm,
    ×12 rescale) as a SCALAR_ITER pandas_udf — oracle-checked as
    exploded (doc_id, dim_idx, value) rows."""
    from pyarrowspace_spark.sources import embed as EMB

    _ship_package(spark)
    docs = loaders.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = EMB.embed_text(docs)
    return out.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "value")
    ).select(
        "doc_id",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        F.round("value", 6).alias("value_r"),
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family word-repetition quality signals (public method,
    Rae et al. 2021 §A1.1): type-token ratio + fraction of word chars
    in the most frequent unigram / bigram."""
    from pyarrowspace_spark.operators import quality as Q

    docs = loaders.load_table(spark, sf_dir, "documents")
    out = Q.repetition_signals(docs)
    return out.select(
        "doc_id", "n_tokens",
        F.round("distinct_ratio", 6).alias("distinct_ratio_r"),
        F.round("top_unigram_frac", 6).alias("top_unigram_frac_r"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac_r"),
    )


# Deterministic PII injection for the scrub demo/oracle: every 5th doc
# gets an email + a 13-digit id + a URL appended, so the redaction path
# is actually exercised (the synthetic corpus contains no natural PII).
_PII_SUFFIX = (" contact user{id}@example.com id 1234567890123"
               " see https://ex.org/d{id}")


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / ≥9-digit runs / URLs → typed tags) with
    per-doc redaction counts; scrubbed text is value-checked via its
    portable 60-bit fingerprint."""
    from pyarrowspace_spark.operators import quality as Q

    docs = loaders.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id"),
                F.lit("@example.com id 1234567890123 see https://ex.org/d"),
                F.col("doc_id"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = Q.scrub_pii(docs)
    return out.select(
        "doc_id", "n_emails", "n_urls", "n_digit_runs",
        T.portable_hash60(F.col("scrubbed_text")).alias("scrubbed_fp"),
    )


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-α source-mixture sampling weights
    w_s ∝ (tokens_s/Σ)^α (public multi-corpus training recipe)."""
    from pyarrowspace_spark.operators import quality as Q

    docs = loaders.load_table(spark, sf_dir, "documents")
    out = Q.source_mixture_weights(docs)
    return out.select(
        "source", "n_docs", "n_tokens",
        F.round("weight", 9).alias("weight_r"),
    )


#: stratified_sample catalog fixture: one partial stratum, one
#: non-terminating fraction, one full-take stratum; unlisted sources
#: are dropped (the operator's documented mixture-materialization
#: contract). Seed pinned so Spark and the DuckDB oracle rank rows by
#: the identical md5 stream.
STRATA_FRACTIONS = {"src0": 0.2, "src1": 0.52, "src7": 1.0}
STRATA_SEED = 7


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deterministic stratified sampling (mixture
    materialization): keep ceil(frac_s·n_s) rows per stratum by
    md5("<seed>|<doc_id>") rank — reproducible by VALUE across engines
    and under repartitioning (ref computes mixture weights only;
    sampling there is caller-side, tests/test_3_beir.py)."""
    from pyarrowspace_spark.operators import quality as Q

    docs = loaders.load_table(spark, sf_dir, "documents")
    out = Q.stratified_sample(docs, STRATA_FRACTIONS, seed=STRATA_SEED)
    return out.select("doc_id", "source",
                      F.col("n_chars").cast("long").alias("n_chars"))


#: mixture_sample catalog fixture: total token budget sized so every
#: source takes a PARTIAL prefix at sf0.01 (≈100 tokens/source across
#: 20 near-uniform sources, a few docs each).
MIXTURE_SAMPLE_TOKENS = 2000


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture materialization: per-source budgets
    ceil(w_s·T) from the temperature-α weights, docs taken in
    md5-rank order until each budget is exhausted (boundary doc
    included — `shard_by_tokens` packing semantics). The end-to-end
    "make a T-token corpus with this mixture" primitive."""
    from pyarrowspace_spark.operators import quality as Q

    docs = loaders.load_table(spark, sf_dir, "documents")
    out = Q.mixture_sample(docs, MIXTURE_SAMPLE_TOKENS,
                           seed=STRATA_SEED)
    return out.select("doc_id", "source",
                      F.col("_n_tok").alias("n_tok"))


def q_corpus_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated corpus-sampling suite as ONE oracle-checked query
    (r14: the two r13-inherited sampling entries pushed the catalog to
    52 and displaced `shard_by_tokens`/`clean_corpus` out of the
    driver's 50-entry correctness window — same fix as the r5
    `build_diagnostics` fold). Each section is the SAME dataflow the
    standalone q_* function runs; the oracle unions the same SQL."""
    strat = q_stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("section"),
        "doc_id", "source", F.col("n_chars").alias("value"))
    mix = q_mixture_sample(spark, sf_dir).select(
        F.lit("mixture").alias("section"),
        "doc_id", "source", F.col("n_tok").alias("value"))
    return strat.unionAll(mix)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / quality scoring / fingerprinting (text analysis)."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").cast("long").alias("n_tokens"),
        T.char_count("text").cast("long").alias("n_chars_seen"),
        F.round(T.punct_ratio("text"), 6).alias("punct_ratio_r"),
        F.round(T.stopword_ratio("text"), 6).alias("stopword_ratio_r"),
        F.round(T.mean_token_length("text"), 6).alias("mean_tok_len_r"),
        F.round(T.quality_score("text"), 6).alias("quality_r"),
        T.content_fingerprint("text").alias("fingerprint"),
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 perms over word 3-gram shingles)."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    out = D.minhash_signatures(docs, n=JACCARD_N)
    return out.select(
        "doc_id", F.col("perm").cast("long").alias("perm"), "minhash"
    )


def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket candidate pairs."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    return D.minhash_band_candidates(docs, n=JACCARD_N).select("id_a", "id_b")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted index."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(docs, n=JACCARD_N, threshold=JACCARD_T)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard_r"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (32-bit, token-level)."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    return D.simhash(docs, bits=SIMHASH_BITS)


LAMBDA_TAU = 0.62
LAMBDA_QIDS = (3, 7, 11)


def q_lambda_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index build: per-item λ with Median-synthesized τ
    (SURVEY §2 G1-G3, A1-A5 composed, oracle-checked end-to-end)."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    idx = _get_index(spark, sf_dir)
    return idx.items.select("item_id", F.round("lambda", 6).alias("lambda_r"))


def q_lambda_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """λ-aware blended search (SURVEY §2 G4-G5, W1) — the flagship
    operator, oracle-checked end-to-end against pure SQL."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.search import search

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    idx = _get_index(spark, sf_dir)
    queries = items.filter(F.col("item_id").isin(list(LAMBDA_QIDS))).select(
        F.col("item_id").alias("query_id"),
        F.transform("features", lambda x: x * F.lit(1.05)).alias("features"),
    )
    out = search(idx.items, idx.feature_laplacian, queries,
                 tau=LAMBDA_TAU, k=TOPK)
    return out.select(
        "query_id", "item_id", F.col("rank").cast("long").alias("rank"),
        F.round("score", 5).alias("score_r"),
    )


def q_lambda_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """λ-aware search over sign-LSH multi-probe candidates — the
    sublinear form of the flagship search (full-scan `lambda_search`
    is the exact twin). Oracle replays hyperplanes, XOR probes, and
    the λ pipeline in pure SQL."""
    from pyarrowspace_spark.operators.search import search_ann

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    idx = _get_index(spark, sf_dir)
    queries = items.filter(F.col("item_id").isin(list(LAMBDA_QIDS))).select(
        F.col("item_id").alias("query_id"),
        F.transform("features", lambda x: x * F.lit(1.05)).alias("features"),
    )
    out = search_ann(idx.items, idx.feature_laplacian, queries,
                     tau=LAMBDA_TAU, k=TOPK, planes=_ann_planes())
    return out.select(
        "query_id", "item_id", F.col("rank").cast("long").alias("rank"),
        F.round("score", 5).alias("score_r"),
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs."""
    emb = _items(spark, sf_dir)
    out = D.embedding_near_dup_pairs(
        emb.select(F.col("item_id").alias("vec_id"),
                   F.col("features").alias("embedding")),
        NEARDUP_COS_T,
    )
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos_r"))


ANN_K = 5
ANN_N_TABLES = 4
ANN_N_PLANES = 8
RANKCORR_K = 20
HEADTAIL_HEAD = 3
HEADTAIL_TAIL = 15


def _ann_planes():
    from pyarrowspace_spark.operators.simsearch import lsh_hyperplanes

    # dim fixed at 64 (testdata embedding width); seeded → identical
    # literals on both engines.
    return lsh_hyperplanes(64, ANN_N_TABLES, ANN_N_PLANES, seed=42)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate cosine top-k (similarity-search scale
    path): bucket-join candidates with Hamming-1 multi-probe on the
    query side, exact rescore — oracle replays the same hyperplanes
    AND the same XOR probe enumeration as SQL literals."""
    from pyarrowspace_spark.operators.simsearch import ann_cosine_topk

    items = _items(spark, sf_dir).select("item_id", "features")
    queries_df = items.filter(F.col("item_id") < N_QUERIES).select(
        F.col("item_id").alias("query_id"), "features"
    )
    out = ann_cosine_topk(items, queries_df, ANN_K, _ann_planes(),
                          probe_hamming1=True)
    return out.select(
        "query_id", "item_id", F.col("rank").cast("long").alias("rank"),
        F.round("score", 4).alias("score_r"),
    )


def _cos_eucl_rankings(spark: SparkSession, sf_dir: str):
    """Two rankings per query (cosine vs euclidean top-20) used by the
    rank-agreement metrics (SURVEY §2.8 M6-M7)."""
    items = _items(spark, sf_dir).select("item_id", "features")
    queries_df = items.filter(F.col("item_id") < N_QUERIES).select(
        F.col("item_id").alias("query_id"), F.col("features").alias("qf")
    )
    from pyspark.sql import Window

    pairs = items.join(F.broadcast(queries_df),
                       F.col("query_id") != F.col("item_id"))
    base = pairs.select(
        "query_id", "item_id",
        V.cosine_similarity("qf", "features").alias("cos"),
        V.euclidean_distance("qf", "features").alias("eucl"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                F.col("item_id").asc())
    we = Window.partitionBy("query_id").orderBy(F.col("eucl").asc(),
                                                F.col("item_id").asc())
    rank_cos = base.withColumn("rank", F.row_number().over(wc)).filter(
        F.col("rank") <= RANKCORR_K).select("query_id", "item_id", "rank")
    rank_eucl = base.withColumn("rank", F.row_number().over(we)).filter(
        F.col("rank") <= RANKCORR_K).select("query_id", "item_id", "rank")
    return rank_cos, rank_eucl


def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ + Kendall τ between cosine and euclidean rankings on
    shared items (SURVEY §2.8 M6)."""
    rank_cos, rank_eucl = _cos_eucl_rankings(spark, sf_dir)
    sp = M.spearman_rho(rank_cos, rank_eucl)
    kt = M.kendall_tau(rank_cos, rank_eucl)
    return (
        sp.join(kt, "query_id")
        .filter(F.col("spearman").isNotNull())
        .select("query_id", F.round("spearman", 6).alias("spearman_r"),
                F.round("kendall", 6).alias("kendall_r"))
    )


def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p=0.9, depth 10) between cosine and
    euclidean rankings (SURVEY §2.8 M7)."""
    rank_cos, rank_eucl = _cos_eucl_rankings(spark, sf_dir)
    out = M.rbo(rank_cos, rank_eucl, p=0.9, max_depth=10)
    return out.select("query_id", F.round("rbo", 6).alias("rbo_r"))


def q_map_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 against label relevance (SURVEY §2.8 M4)."""
    items = _items(spark, sf_dir)
    corpus = items.select("item_id", "features", "label")
    queries_df = corpus.filter(F.col("item_id") < IR_N_QUERIES)
    ranked = brute_force_cosine_topk(
        corpus, queries_df.select(F.col("item_id").alias("query_id"), "features"),
        TOPK + 1,
    ).filter(F.col("query_id") != F.col("item_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rank")
    rankings = ranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK).select("query_id", "item_id", "rank")
    qrels = (
        queries_df.select(F.col("item_id").alias("query_id"),
                          F.col("label").alias("ql"))
        .join(corpus.select("item_id", "label"), F.col("label") == F.col("ql"))
        .filter(F.col("query_id") != F.col("item_id"))
        .select("query_id", "item_id", F.lit(1).alias("relevance"))
    )
    out = M.map_at_k(rankings, qrels, TOPK)
    return out.select("query_id", F.round("map", 6).alias("map_r"))


def q_head_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/tail score-distribution stats over cosine rankings
    (SURVEY §2.4 A7 tail analysis)."""
    items = _items(spark, sf_dir).select("item_id", "features")
    queries_df = items.filter(F.col("item_id") < N_QUERIES).select(
        F.col("item_id").alias("query_id"), "features"
    )
    ranked = brute_force_cosine_topk(items, queries_df, HEADTAIL_TAIL + 1
                                     ).filter(F.col("query_id") != F.col("item_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rank")
    rankings = ranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= HEADTAIL_TAIL)
    out = M.head_tail_stats(rankings, HEADTAIL_HEAD, HEADTAIL_TAIL)
    return out.select(
        "query_id", F.round("head_mean", 6).alias("head_mean_r"),
        F.round("tail_mean", 6).alias("tail_mean_r"),
        F.round("tail_std", 6).alias("tail_std_r"),
        F.round("tail_head_ratio", 6).alias("tail_head_ratio_r"),
    )


def q_nearest_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query→corpus nearest-anchor join by L2 (SURVEY §2.3 J3,
    §2.4 A8 argmin)."""
    items = _items(spark, sf_dir).select("item_id", "features")
    queries_df = items.filter(F.col("item_id") < N_QUERIES).select(
        F.col("item_id").alias("query_id"), F.col("features").alias("qf")
    )
    from pyspark.sql import Window

    pairs = items.join(F.broadcast(queries_df),
                       F.col("query_id") != F.col("item_id"))
    d = pairs.select("query_id", "item_id",
                     V.euclidean_distance("qf", "features").alias("dist"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col("item_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        .select("query_id", F.col("item_id").alias("anchor_id"),
                F.round("dist", 6).alias("dist_r"))
    )


DIFF_ETA = 0.05
DIFF_STEPS = 2
# search_energy defaults (reference src/lib.rs:232-262 w_lambda=1.0,
# w_dirichlet=0.5; EnergyParams.candidate_m=40) — mirrored into the
# energy_search oracle SQL.
ENERGY_W_LAMBDA = 1.0
ENERGY_W_DIRICHLET = 0.5
ENERGY_CANDIDATE_M = 40


def q_energy_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heat-diffusion smoothing x ← x − η·L·x, 2 steps (SURVEY §2 G12)
    — oracle-checked as exploded (item, feature_idx, value) rows."""
    from pyarrowspace_spark.operators import energy as E

    items = _items(spark, sf_dir).select("item_id", "features")
    # The shared index's edges are built with the SAME params over the
    # same corpus; rectified-cosine distance is invariant to the
    # builder's unit-norm step, so they are value-identical to an
    # exact knn_edges over raw features — reuse instead of rebuilding.
    edges = _knn_edges_df(spark, sf_dir)
    out = E.diffuse(items, edges, DIFF_ETA, DIFF_STEPS)
    return out.select(
        "item_id", F.posexplode("features").alias("fi", "v")
    ).select("item_id", F.col("fi").cast("long").alias("fi"),
             F.round("v", 6).alias("v_r"))


def q_energy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-only (cosine-free) search over the compressed optical-
    token index (SURVEY §2 G13-G15). Oracle-checked end to end since
    round 4: DuckDB recomputes the graph, diffusion, trim, F×F
    Laplacian, e/g/λ, assignment, aggregates, shortlist and rescore in
    pure SQL; only the seeded Lloyd centers (+ dispersion-split
    children) are literal-injected, IVF-oracle precedent."""
    import numpy as np

    from pyarrowspace_spark.operators import energy as E
    from pyarrowspace_spark.params import EnergyParams

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    idx = E.build_energy(
        items,
        EnergyParams(optical_tokens=40, eta=DIFF_ETA, steps=DIFF_STEPS,
                     trim_quantile=0.1),
        GraphParams(eps=KNN_EPS, k=KNN_K, topk=TOPK, p=KNN_P,
                    sigma=KNN_SIGMA),
        # same-params shared edges (rectified cosine is unit-norm
        # invariant, see q_energy_diffusion) — one graph build, two
        # indexes, the real-pipeline shape
        edges=_knn_edges_df(spark, sf_dir),
    )
    qrows = sorted(
        idx.items.filter(F.col("item_id").isin(list(LAMBDA_QIDS))).collect(),
        key=lambda r: r["item_id"])
    # batched: all queries in ONE plan (one shortlist window + one
    # member rescore), not a per-query union loop (r5 brief #4)
    qmat = np.array([r["features"] for r in qrows])
    out = E.search_energy(idx, qmat, k=TOPK,
                          query_ids=[int(r["item_id"]) for r in qrows])
    return out.select("query_id", "item_id",
                      F.col("rank").cast("long").alias("rank"),
                      F.round("score", 5).alias("score_r"))


PPR_ALPHA = 0.85
PPR_ITERS = 8
LPA_ITERS = 4


def _knn_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identical params to the shared index build — reuse its edge table
    return _get_index(spark, sf_dir).edges


def q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of the label-0 item set over the λτ-graph
    (SURVEY §2 G19)."""
    from pyarrowspace_spark.operators import topology as TOP

    edges = _knn_edges_df(spark, sf_dir).persist()
    node_set = _items(spark, sf_dir).filter(F.col("label") == 0).select(
        F.col("item_id").alias("node")
    )
    phi = TOP.conductance(edges, node_set)
    return spark.createDataFrame([(round(phi, 6),)], "conductance_r double")


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity terms with label communities over the
    λτ-graph (SURVEY §2 G20)."""
    from pyarrowspace_spark.operators import topology as TOP

    edges = _knn_edges_df(spark, sf_dir).persist()
    comms = _items(spark, sf_dir).select(
        F.col("item_id").alias("node"), F.col("label").alias("community")
    )
    out = TOP.modularity(edges, comms)
    return out.select(
        F.col("community").cast("long").alias("community"),
        F.round("in_weight", 6).alias("in_weight_r"),
        F.round("deg_sum", 6).alias("deg_sum_r"),
        F.round("q_c", 8).alias("q_c_r"),
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted LPA communities (SURVEY §2 G17)."""
    from pyarrowspace_spark.operators import topology as TOP

    edges = _knn_edges_df(spark, sf_dir).persist()
    out = TOP.label_propagation(edges, iters=LPA_ITERS)
    return out.select("node", F.col("community").cast("long").alias("community"))


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from 3 source nodes, fixed-iteration
    power method (SURVEY §2 G18)."""
    from pyarrowspace_spark.operators import topology as TOP

    edges = _knn_edges_df(spark, sf_dir).persist()
    out = TOP.personalized_pagerank(edges, list(LAMBDA_QIDS),
                                    alpha=PPR_ALPHA, iters=PPR_ITERS)
    return out.select("source", "node", F.round("ppr", 8).alias("ppr_r"))


MEDIA_FRAME_MS = 500
MEDIA_NF = 16
RP_K = 8
N_FEATURES = 64
TTEST_HEAD_K = 3


def q_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`search_hybrid` entry point (SURVEY §2 G6): the crate-internal
    hybrid blend is unpublished, pinned == lambda-aware (SURVEY §2.11);
    oracle-checked against the same SQL as lambda_search."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.search import search_hybrid

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    idx = _get_index(spark, sf_dir)
    queries_df = items.filter(F.col("item_id").isin(list(LAMBDA_QIDS))).select(
        F.col("item_id").alias("query_id"),
        F.transform("features", lambda x: x * F.lit(1.05)).alias("features"),
    )
    out = search_hybrid(idx.items, idx.feature_laplacian, queries_df,
                        tau=LAMBDA_TAU, k=TOPK)
    return out.select(
        "query_id", "item_id", F.col("rank").cast("long").alias("rank"),
        F.round("score", 5).alias("score_r"),
    )


def q_graph_sparsity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph sparsity report (SURVEY §2 G10, reference
    with_sparsity_check src/lib.rs:286): 1 - nnz/N² over the symmetric
    adjacency of the λτ-graph."""
    from pyarrowspace_spark.operators.knn import sparsity

    items = _items(spark, sf_dir).select("item_id", "features")
    n = items.count()
    edges = _knn_edges_df(spark, sf_dir)
    n_edges = edges.count()
    sp = sparsity(edges, n)
    return spark.createDataFrame(
        [(int(n), int(n_edges), round(sp, 8))],
        "n_items long, n_edges long, sparsity_r double",
    )


def q_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate + auto-K (SURVEY §2 G8,
    reference 'intrinsic dim via 2-NN ratios' + auto-K log)."""
    from pyarrowspace_spark.operators import dimred as DR

    items = _items(spark, sf_dir).select("item_id", "features")
    n = items.count()
    row = DR.two_nn_intrinsic_dim(items).collect()[0]
    k = DR.auto_k_estimate(n, row["id_mle"])
    return spark.createDataFrame(
        [(int(row["n_used"]), round(row["id_mle"], 6), int(k))],
        "n_used long, id_mle_r double, auto_k long",
    )


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rademacher random projection to RP_K dims (SURVEY §2 G9 pinned
    method): narrow JVM expression over literal ±1 sign vectors — no
    shuffle, no UDF, identical plan at any scale."""
    from pyarrowspace_spark.operators import dimred as DR

    items = _items(spark, sf_dir).select("item_id", "features")
    out = DR.random_project(items, RP_K, N_FEATURES)
    cols = [F.round(F.element_at("proj", j + 1), 6).alias(f"p{j}_r")
            for j in range(RP_K)]
    return out.select("item_id", *cols)


def q_suggest_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-aware graph-parameter suggestions (reference
    "Auto-computing optimal clustering parameters",
    tests/output/1760705545_v0_16/suggested_eps.md:7-12): TwoNN
    intrinsic dim → theory eps/sigma/s(n)/k via random-geometric-graph
    connectivity formulas. The crate's final unpublished calibration
    step is a documented spec gap — we report the theory values the
    reference log itself prints."""
    from pyarrowspace_spark.operators import dimred as DR

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    out = DR.suggest_graph_params(items, max_rows=100_000)
    return out.select(
        "n", F.round("id_mle", 6).alias("id_mle_r"), "d_used",
        F.round("eps_theory", 6).alias("eps_theory_r"),
        F.round("sigma_theory", 6).alias("sigma_theory_r"),
        F.round("s_n", 6).alias("s_n_r"), "k_rec",
    )


def q_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test (SURVEY §2 M10) on per-query head-mean vs
    tail-mean cosine score — significance of head/tail separation
    (reference pairs taumode-vs-cosine metrics the same way)."""
    from pyarrowspace_spark.operators import metrics as MT

    items = _items(spark, sf_dir).select("item_id", "features")
    queries_df = items.filter(F.col("item_id") < IR_N_QUERIES).select(
        F.col("item_id").alias("query_id"), "features"
    )
    ranked = brute_force_cosine_topk(
        items, queries_df, TOPK + 1
    ).filter(F.col("query_id") != F.col("item_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rank")
    ranked = ranked.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK)
    head = ranked.filter(F.col("rank") <= TTEST_HEAD_K).groupBy(
        "query_id").agg(F.avg("score").alias("value"))
    tail = ranked.filter(F.col("rank") > TTEST_HEAD_K).groupBy(
        "query_id").agg(F.avg("score").alias("value"))
    out = MT.paired_ttest(head, tail)
    return out.select(
        "n", F.round("mean_diff", 6).alias("mean_diff_r"),
        F.round("std_diff", 6).alias("std_diff_r"),
        F.round("t_stat", 6).alias("t_stat_r"),
        F.round("p_value", 9).alias("p_value_r"),
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan over the multimodal media table
    (binary payload + typed metadata) derived from documents — one row
    per sampled timestamp via explode(sequence(...))."""
    from pyarrowspace_spark.multimodal import binary_ops as MM

    docs = loaders.load_table(spark, sf_dir, "documents")
    media = MM.media_table_from_documents(docs)
    out = MM.sample_frames(media, every_ms=MEDIA_FRAME_MS)
    return out.select(
        "media_id",
        F.col("frame_ms").cast("long").alias("frame_ms"),
        F.col("payload_bytes").cast("long").alias("payload_bytes"),
    )


def q_media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → histogram feature extraction over binary media payloads
    (Arrow-batched mapInPandas). Payloads are REAL uncompressed public
    containers (BMP / PCM WAV, multimodal/codecs.py) whose sample
    content follows a doc_id-seeded formula, so the decoded features
    are fully oracle-checked: DuckDB replays the formula + histogram
    while Spark runs the actual header-parsing decode."""
    from pyarrowspace_spark.multimodal import binary_ops as MM

    _ship_package(spark)
    docs = loaders.load_table(spark, sf_dir, "documents")
    media = MM.media_table_from_documents(docs)
    out = MM.decode_features(media, n_features=MEDIA_NF)
    return out.select(
        "media_id", "kind",
        F.round(F.element_at("features", 1), 6).alias("f0_r"),
        F.round(F.element_at("features", MEDIA_NF), 6).alias("f_last_r"),
    )


RBP_P = 0.9
ERR_MAX_GRADE = 3
CVE_YEAR_START, CVE_YEAR_END = 2010, 2020


def q_ndcg_vs_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG of the λ-aware ranking against the cosine ranking as graded
    truth (SURVEY §2.8 M5, reference tests/test_2_CVE_db.py:176-199):
    ranking-agreement between the two search systems per query."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators import metrics as MT
    from pyarrowspace_spark.operators.search import search

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    idx = _get_index(spark, sf_dir)
    queries_df = items.filter(F.col("item_id").isin(list(LAMBDA_QIDS))).select(
        F.col("item_id").alias("query_id"),
        F.transform("features", lambda x: x * F.lit(1.05)).alias("features"),
    )
    lam_rank = search(idx.items, idx.feature_laplacian, queries_df,
                      tau=LAMBDA_TAU, k=TOPK).select(
        "query_id", "item_id", "rank")
    cos_rank = brute_force_cosine_topk(items, queries_df, TOPK).select(
        "query_id", "item_id", "rank")
    out = MT.ndcg_vs_reference(cos_rank, lam_rank, TOPK)
    return out.select("query_id", F.round("ndcg", 6).alias("ndcg_r"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram-profile language ID (north-star text-analysis op):
    per-language profile scores + argmax prediction, all as plan
    literals — no lookup table, no shuffle beyond the scan."""
    docs = (
        loaders.load_table(spark, sf_dir, "documents")
        # one scores array shared by the per-lang columns AND the argmax
        # (Catalyst only CSEs repeated subexpressions shared through a
        # named column); scores via the replace-count trick — no bigram
        # array materialization at all
        .withColumn("scores", T.lang_scores_text("text"))
    )
    cols = [F.round(F.element_at("scores", i + 1), 6).alias(f"score_{g}_r")
            for i, g in enumerate(T.LANGS)]
    pred = F.element_at(
        F.array(*[F.lit(g) for g in T.LANGS]),
        F.array_position("scores", F.array_max("scores")).cast("int"))
    return docs.select("doc_id", "lang", *cols, pred.alias("predicted"))


IVF_N_CENTROIDS = 16
IVF_N_PROBE = 4


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic seeded Lloyd's centroids → nprobe-nearest
    cells → exact rescore inside the shortlist (the prompt's 'IVF
    variant as the scale path'). The oracle replays the SAME centroids
    as SQL literals (cell-assignment margins are ≥5.7e-6 vs ~1e-15 FP
    noise between the two engines' distance formulas, so assignments
    cannot diverge)."""
    from pyarrowspace_spark.operators import simsearch as SS

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    queries_df = items.filter(F.col("item_id") < N_QUERIES).select(
        F.col("item_id").alias("query_id"), "features")
    cents = SS.ivf_centroids(items, n_centroids=IVF_N_CENTROIDS, seed=42)
    out = SS.ivf_cosine_topk(items, queries_df, k=TOPK, centroids=cents,
                             n_probe=IVF_N_PROBE)
    return out.select("query_id", "item_id",
                      F.col("rank").cast("long").alias("rank"))


TAU_SWEEP = (1.0, 0.8, 0.62, 0.42)
CC_ITERS = 6
SHARD_TOKENS = 4096


EPS_SWEEP = (0.9, 0.95, 0.99)
QUALITY_MIN = 0.5

# DuckDB replay of dimred.auto_graph_params at the sf0.01 gate scale,
# where deterministic_cap(max_rows=2048) is the identity (500 rows) so
# the calibration sample is the whole embeddings table: unit-normalize
# (zero vectors divide by 1, matching np.where(norms > 0, norms, 1)),
# rectified-cosine distance to every other row, per-row k-th smallest
# with k = max(2, round(2·ln n)), 0.9-quantile (quantile_cont's linear
# interpolation == np.quantile's default), ×1.10 margin, clamp (0, 1].
AUTO_PARAMS_SQL = """
WITH it AS (
  SELECT vec_id AS item_id, embedding::DOUBLE[] AS f FROM embeddings
),
nrm AS (
  SELECT item_id, f,
         sqrt(list_sum(list_transform(f, x -> x * x))) AS nv
  FROM it
),
u AS (
  SELECT item_id,
         list_transform(
           f, x -> x / (CASE WHEN nv > 0 THEN nv ELSE 1.0 END)) AS uf
  FROM nrm
),
p AS (
  SELECT count(*)::BIGINT AS n,
         GREATEST(2, round(2.0 * ln(count(*)), 0)::BIGINT) AS k
  FROM it
),
pairs AS (
  SELECT a.item_id AS src,
         1.0 - GREATEST(list_dot_product(a.uf, b.uf), 0.0) AS d
  FROM u a JOIN u b ON a.item_id <> b.item_id
),
ranked AS (
  SELECT src, d,
         row_number() OVER (PARTITION BY src ORDER BY d) AS rn
  FROM pairs
),
dk AS (
  SELECT r.d FROM ranked r, p
  WHERE r.rn = LEAST(p.k, p.n - 1)
),
q AS (SELECT quantile_cont(d, 0.9) AS eps_raw FROM dk)
SELECT p.n, p.k,
       round(q.eps_raw, 6) AS eps_raw_r,
       round(LEAST(1.0, GREATEST(q.eps_raw * 1.1, 1e-6)), 6) AS eps_r
FROM p, q"""


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-data pipeline composition: exact-dup removal
    (fingerprint min-id survivors) → near-dup GROUP removal (connected
    components over n-gram Jaccard pairs, min-id survivors) → quality
    floor → per-language corpus stats. One query, end-to-end."""
    docs = loaders.load_table(spark, sf_dir, "documents")

    exact = D.exact_duplicates(docs)
    keep_exact = docs.join(
        exact.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi")

    pairs = D.ngram_jaccard_pairs(keep_exact, n=JACCARD_N,
                                  threshold=JACCARD_T)
    comp = D.connected_components(pairs, iters=CC_ITERS)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id"))
    survivors = keep_exact.join(losers, "doc_id", "left_anti")

    clean = survivors.filter(T.quality_score("text") >= QUALITY_MIN)
    return clean.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(T.token_count("text")).cast("long").alias("n_tokens"),
        F.round(F.avg(T.quality_score("text")), 6).alias("avg_quality_r"),
    )


def q_eps_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eps-sweep diagnostic (reference suggested_eps outputs + eps
    sweep, tests/test_5_msmarco_eps_sweep.py): per-eps graph shape —
    edge count, mean degree, sparsity — from ONE pairwise distance
    pass reused across the grid."""
    from pyarrowspace_spark.operators import knn as KNN

    items = _items(spark, sf_dir).select("item_id", "features")
    n = items.count()
    # one scan at the widest eps; narrower ones are filters over it
    widest = max(EPS_SWEEP)
    cand = KNN._knn_directed_broadcast_scan(
        items, "item_id", "features", widest, KNN_K).persist()
    out = None
    for eps in EPS_SWEEP:
        knn = cand.filter(F.col("dist") <= F.lit(float(eps)))
        canon = knn.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).distinct()
        agg = canon.agg(F.count("*").alias("n_edges")).select(
            F.lit(float(eps)).alias("eps"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.round(2.0 * F.col("n_edges") / F.lit(float(n)), 6
                    ).alias("avg_degree_r"),
            F.round(1.0 - 2.0 * F.col("n_edges") / F.lit(float(n * n)), 8
                    ).alias("sparsity_r"),
        )
        out = agg if out is None else out.unionAll(agg)
    return out


def q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components over the n-gram-Jaccard
    pair graph by iterated min-label propagation (dedup output is
    groups, not pairs — the survivor per group is min doc_id)."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=JACCARD_N, threshold=JACCARD_T)
    out = D.connected_components(pairs, iters=CC_ITERS)
    return out.select("node", F.col("component").cast("long").alias("component"))


def q_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-export survivor list: exact-dup groups AND
    near-dup components each keep min(doc_id); everything else passes.
    The composition a 100 TB corpus export actually consumes."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    out = D.dedup_keeplist(docs, n=JACCARD_N, threshold=JACCARD_T,
                           cc_iters=CC_ITERS)
    return out.select("doc_id", "keep")


def q_shard_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard packing: running token budget of
    SHARD_TOKENS per shard in deterministic doc order."""
    docs = loaders.load_table(spark, sf_dir, "documents")
    out = D.shard_by_token_budget(docs, SHARD_TOKENS)
    return out.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                      "shard")


def q_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ-sweep regression probe (SURVEY §5.3, reference
    tests/test_4_msmarco_tau_sweep.py): per-τ mean ranking agreement
    with the cosine reference — the engine's parameter-sweep harness
    as one oracle-checked query."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators import metrics as MT
    from pyarrowspace_spark.operators.search import search

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    idx = _get_index(spark, sf_dir)
    idx.items.persist()
    queries_df = items.filter(F.col("item_id").isin(list(LAMBDA_QIDS))).select(
        F.col("item_id").alias("query_id"),
        F.transform("features", lambda x: x * F.lit(1.05)).alias("features"),
    )
    cos_rank = brute_force_cosine_topk(items, queries_df, TOPK).select(
        "query_id", "item_id", "rank").persist()
    out = None
    for tau in TAU_SWEEP:
        lam_rank = search(idx.items, idx.feature_laplacian, queries_df,
                          tau=tau, k=TOPK).select(
            "query_id", "item_id", "rank")
        nd = MT.ndcg_vs_reference(cos_rank, lam_rank, TOPK).agg(
            F.avg("ndcg").alias("avg_ndcg"))
        row = nd.select(F.lit(float(tau)).alias("tau"),
                        F.round("avg_ndcg", 6).alias("avg_ndcg_r"))
        out = row if out is None else out.unionAll(row)
    return out


def q_magnitude_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-magnitude diagnostics (SURVEY §7.3 #7: report, don't
    panic, on mis-scaled inputs)."""
    from pyarrowspace_spark.operators import lambda_index as LI

    items = _items(spark, sf_dir).select("item_id", "features")
    out = LI.magnitude_report(items)
    return out.select(
        "n_items",
        F.round("min_norm", 6).alias("min_norm_r"),
        F.round("avg_norm", 6).alias("avg_norm_r"),
        F.round("max_norm", 6).alias("max_norm_r"),
        "n_zero_vectors", "n_nonfinite",
    )


def _melt_diag(df: DataFrame, section: str,
               metrics: list[tuple]) -> DataFrame:
    """Melt a diagnostic frame to (section, metric, value) rows —
    metrics is [(metric_name_col_or_str, value_col)]."""
    kvs = []
    for name, col in metrics:
        name_col = F.lit(name) if isinstance(name, str) else name
        kvs.append(F.struct(name_col.alias("metric"),
                            col.cast("double").alias("value")))
    return df.select(
        F.lit(section).alias("section"),
        F.explode(F.array(*kvs)).alias("_kv"),
    ).select("section", "_kv.metric", "_kv.value")


def q_auto_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuning build calibration, driver-gated (r6 verdict #5):
    run the REAL `ArrowSpaceBuilder.build(items, 'auto')` path and
    emit one row with both the calibrated parameters
    (`dimred.auto_graph_params` diagnostics: n, k from the
    round(2·ln n) connectivity rule, the raw kth-neighbor-distance
    quantile, and the margined/clamped eps) and the parameters the
    build ACTUALLY applied — the oracle replays the quantile-over-
    sample calibration in SQL and emits the calibrated values for the
    applied columns too, so any drift between calibration and
    application hash-mismatches.

    Oracle-replayable because at the sf0.01 gate scale (500
    embeddings) `deterministic_cap(max_rows=2048)` is the identity, so
    the calibration sample is the whole table; above 2048 rows the
    xxhash64 thinning engages and the SQL twin no longer matches
    (bench-only scales — the driver gate runs sf0.01)."""
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.dimred import auto_graph_params

    _ship_package(spark)
    items = _items(spark, sf_dir).select("item_id", "features")
    params, info = auto_graph_params(items, with_diagnostics=True)
    idx = ArrowSpaceBuilder.build(items, "auto")
    applied = idx.params
    # the one-off index exists only to witness the applied params —
    # drop its caches rather than hold them for the session
    idx.items.unpersist()
    idx.edges.unpersist()
    return spark.createDataFrame(
        [(int(info["n"]), int(info["k"]),
          round(float(info["eps_raw"]), 6), round(float(params.eps), 6),
          int(applied.k), round(float(applied.eps), 6))],
        schema=("n long, k long, eps_raw_r double, eps_r double, "
                "k_applied long, eps_applied_r double"),
    )


def q_build_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated build-diagnostics suite as ONE oracle-checked query
    (r4 verdict: the catalog outgrew the driver's 50-entry correctness
    window, so the diagnostic queries — graph sparsity, TwoNN
    intrinsic dim, theory param suggestions, input-magnitude report,
    eps sweep, τ sweep, and (r7) the 'auto'-build calibration — are
    melted into one long-format frame [section, metric, value]). Each
    section is the SAME dataflow the standalone q_* function runs; the
    oracle melts the same SQL."""
    def _lbl(col, values):
        lab = None
        for v in values:
            cond = F.col(col) == F.lit(float(v))
            lab = (F.when(cond, F.lit(f"{v:g}")) if lab is None
                   else lab.when(cond, F.lit(f"{v:g}")))
        return lab

    # r14 (§2.6 "overlap independent jobs"): the sections with EAGER
    # driver-side actions — TwoNN collect (intrinsic_dim), the 'auto'
    # witness build (auto_params), and the shared-index sparsity row —
    # used to run back-to-back on the driver, each under-using the
    # executors (measured 18.5 s construction ≈ the serial sum).
    # They are independent jobs, so submit them from a small thread
    # pool; each still runs the IDENTICAL dataflow (same rows, same
    # doubles). The shared index is materialized once BEFORE the pool
    # (the _get_index memo is not thread-safe to fill concurrently).
    from concurrent.futures import ThreadPoolExecutor

    _get_index(spark, sf_dir)
    el = _lbl("eps", EPS_SWEEP)
    tl = _lbl("tau", TAU_SWEEP)
    with ThreadPoolExecutor(max_workers=6) as _pool:
        _f_gs = _pool.submit(
            lambda: q_graph_sparsity(spark, sf_dir).first())
        _f_idim = _pool.submit(q_intrinsic_dim, spark, sf_dir)
        _f_ap = _pool.submit(q_auto_params, spark, sf_dir)
        _f_sp = _pool.submit(q_suggest_params, spark, sf_dir)
        _f_es = _pool.submit(q_eps_sweep, spark, sf_dir)
        _f_ts = _pool.submit(q_tau_sweep, spark, sf_dir)
        gsrow = _f_gs.result()
        idim_df = _f_idim.result()
        ap_df = _f_ap.result()
        sp_df = _f_sp.result()
        es_df = _f_es.result()
        ts_df = _f_ts.result()
    # ONE graph_sparsity execution feeds both the melted section and
    # the diffuse_plan arithmetic below (it ran twice before) — the
    # literal frame carries the identical row.
    gs_df = spark.createDataFrame(
        [(int(gsrow["n_items"]), int(gsrow["n_edges"]),
          float(gsrow["sparsity_r"]))],
        "n_items long, n_edges long, sparsity_r double")
    gs = _melt_diag(gs_df, "graph_sparsity", [
        ("n_items", F.col("n_items")),
        ("n_edges", F.col("n_edges")),
        ("sparsity", F.col("sparsity_r")),
    ])
    idim = _melt_diag(idim_df, "intrinsic_dim", [
        ("n_used", F.col("n_used")),
        ("id_mle", F.col("id_mle_r")),
        ("auto_k", F.col("auto_k")),
    ])
    sp = _melt_diag(sp_df, "suggest_params", [
        ("n", F.col("n")),
        ("id_mle", F.col("id_mle_r")),
        ("d_used", F.col("d_used")),
        ("eps_theory", F.col("eps_theory_r")),
        ("sigma_theory", F.col("sigma_theory_r")),
        ("s_n", F.col("s_n_r")),
        ("k_rec", F.col("k_rec")),
    ])
    mr = _melt_diag(q_magnitude_report(spark, sf_dir), "magnitude_report", [
        ("n_items", F.col("n_items")),
        ("min_norm", F.col("min_norm_r")),
        ("avg_norm", F.col("avg_norm_r")),
        ("max_norm", F.col("max_norm_r")),
        ("n_zero_vectors", F.col("n_zero_vectors")),
        ("n_nonfinite", F.col("n_nonfinite")),
    ])
    es = _melt_diag(es_df, "eps_sweep", [
        (F.concat(F.lit("n_edges@"), el), F.col("n_edges")),
        (F.concat(F.lit("avg_degree@"), el), F.col("avg_degree_r")),
        (F.concat(F.lit("sparsity@"), el), F.col("sparsity_r")),
    ])
    ts = _melt_diag(ts_df, "tau_sweep", [
        (F.concat(F.lit("avg_ndcg@"), tl), F.col("avg_ndcg_r")),
    ])
    ap = _melt_diag(ap_df, "auto_params", [
        ("n", F.col("n")),
        ("k", F.col("k")),
        ("eps_raw", F.col("eps_raw_r")),
        ("eps", F.col("eps_r")),
        ("k_applied", F.col("k_applied")),
        ("eps_applied", F.col("eps_applied_r")),
    ])
    # r11: the diffusion tier the energy build would run on THIS
    # corpus shape (driver 0 / distributed spool 1). Pure arithmetic
    # over (N, F, E) + the env-backed budget; the oracle replays it.
    from pyarrowspace_spark.operators import energy as EN

    nf = _items(spark, sf_dir).select(
        F.size("features").alias("nf")).first()["nf"]
    plan = EN.diffuse_plan(int(gsrow["n_items"]), int(nf),
                           int(gsrow["n_edges"]))
    dp = spark.createDataFrame(
        [("diffuse_plan", "distributed_tier",
          float(plan["distributed_tier"]))],
        "section string, metric string, value double")
    # r12: the LSH grouped-build physical plan on THIS corpus shape —
    # auto bit width / band count and the budgeted group count +
    # projected spool/shuffle bytes (r11 verdict: the group machinery
    # must be diagnostics-visible, not a module-global breadcrumb).
    # Pure arithmetic over (N, k); the oracle replays the formulas.
    from pyarrowspace_spark.operators import knn as KNN_MOD

    lp = KNN_MOD.lsh_plan(int(gsrow["n_items"]), int(nf), KNN_K)
    lpdf = spark.createDataFrame(
        [("lsh_plan", m, float(lp[m]))
         for m in ("n_bits", "n_bands", "n_band_groups",
                   "band_shuffle_bytes", "spool_group_bytes")],
        "section string, metric string, value double")
    out = gs
    for part in (idim, sp, mr, es, ts, ap, dp, lpdf):
        out = out.unionAll(part)
    return out


def q_json_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON corpus lifecycle (SURVEY §2.1 S4-S5, S7/S9):
    documents → nested CVE-shaped records → year-partitioned JSON sink
    → recursive scan with year-in-path predicate → PERMISSIVE parse →
    SQL flatten. The oracle derives the same rows straight from the
    parquet table, proving the sink/scan round-trip is lossless."""
    import tempfile

    from pyarrowspace_spark.sources import json_corpus as JC

    docs = loaders.load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="pas_cve_json_")
    JC.write_json_corpus(JC.to_cve_like_json(docs), path)
    records = JC.read_json_corpus(spark, path, CVE_YEAR_START, CVE_YEAR_END)
    return JC.extract_text(records).select(
        "cve_id", "title", "flat_text", F.round("score", 2).alias("score_r"))


def q_csv_metrics_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/scan round-trip (SURVEY §2.1 S8): per-doc text stats →
    headered CSV → schema'd read-back → aggregate by language. Oracle
    computes the same aggregate directly from parquet."""
    import tempfile

    docs = loaders.load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id", "lang",
        T.token_count("text").alias("n_tokens"),
        F.round(T.punct_ratio("text"), 6).alias("punct_ratio"),
    )
    path = tempfile.mkdtemp(prefix="pas_csv_metrics_")
    stats.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.schema(
            "doc_id long, lang string, n_tokens long, punct_ratio double")
        .option("header", "true").csv(path)
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_r"),
    )


def q_topology_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology-weighted IR metric suite (SURVEY §2.8 M8-M9): per-query
    G-RBP, TD-nDCG, IT-ERR, MRR-Topo, SQI with prefix topology factors
    over the λτ-graph — oracle-checked end-to-end in pure SQL."""
    from pyspark.sql import Window

    from pyarrowspace_spark.operators import topo_metrics as TM
    from pyarrowspace_spark.operators import topology as TOP

    items = _items(spark, sf_dir).select("item_id", "features", "label")
    queries_df = items.filter(F.col("item_id") < N_QUERIES).select(
        F.col("item_id").alias("query_id"), "features",
        F.col("label").alias("ql"))
    ranked = brute_force_cosine_topk(
        items, queries_df.select("query_id", "features"), TOPK + 1
    ).filter(F.col("query_id") != F.col("item_id"))
    w = Window.partitionBy("query_id").orderBy("rank")
    rankings = (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .join(items.select("item_id", "label"), "item_id")
        .join(queries_df.select("query_id", "ql"), "query_id")
        .select("query_id", "item_id", "rank",
                (F.col("label") == F.col("ql")).cast("int").alias("rel"))
    ).persist()

    edges = _knn_edges_df(spark, sf_dir).persist()
    comms = TOP.label_propagation(edges, iters=LPA_ITERS)
    ppr = TOP.personalized_pagerank(edges, list(range(N_QUERIES)),
                                    alpha=PPR_ALPHA, iters=PPR_ITERS)
    cond_p = TM.prefix_conductance(edges, rankings, TOPK)
    share_p = TM.prefix_max_share(rankings, comms, TOPK)
    tfac = TM.topology_factor_prefix(rankings, ppr, cond_p, share_p)
    ranked_t = rankings.join(tfac.select("query_id", "item_id", "t_factor"),
                             ["query_id", "item_id"])
    ga = TM.graph_aware_metrics(ranked_t, TOPK, p=RBP_P,
                                max_grade=ERR_MAX_GRADE)
    sq = TM.sqi(rankings, ppr, cond_p, share_p, TOPK)
    return ga.join(sq, "query_id").select(
        "query_id",
        F.round("g_rbp", 6).alias("g_rbp_r"),
        F.round("td_ndcg", 6).alias("td_ndcg_r"),
        F.round("it_err", 6).alias("it_err_r"),
        F.round("mrr_topo", 6).alias("mrr_topo_r"),
        F.round("sqi", 6).alias("sqi_r"),
    )


#: The driver verifies a 50-entry window over ``queries()`` (r4/r13
#: verdicts). These 50 names, in THIS order, are the frozen contract —
#: every one passed rows+schema+hash in CORRECTNESS_r12. Any new entry
#: must go AFTER them (or be folded into a composed entry like
#: build_diagnostics / corpus_sampling); ``queries()`` asserts the
#: prefix so displacement can never be silent again.
DRIVER_WINDOW_QUERIES: tuple[str, ...] = (
    "cosine_topk", "knn_graph_edges", "graph_degrees",
    "ir_quality_labels", "pricing_summary", "top_customers",
    "events_hourly", "events_asof", "sessionize", "dedup_exact",
    "text_embed", "text_stats", "repetition_signals", "scrub_pii",
    "source_mixture", "minhash_signatures", "minhash_band_pairs",
    "ngram_jaccard", "simhash", "embedding_near_dups", "lambda_table",
    "lambda_search", "lambda_search_ann", "ann_lsh_topk",
    "rank_correlation", "rbo_cos_eucl", "map_at_10", "head_tail",
    "nearest_anchor", "energy_diffusion", "energy_search",
    "conductance", "modularity", "label_propagation", "ppr",
    "media_frame_sample", "media_decode_features", "random_projection",
    "paired_ttest", "topology_metrics", "json_corpus_roundtrip",
    "csv_metrics_roundtrip", "ndcg_vs_reference", "lang_id",
    "ivf_ann_topk", "build_diagnostics", "dup_components",
    "dedup_keeplist", "shard_by_tokens", "clean_corpus",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {
        "cosine_topk": q_cosine_topk,
        "knn_graph_edges": q_knn_graph_edges,
        "graph_degrees": q_graph_degrees,
        "ir_quality_labels": q_ir_quality_labels,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "events_hourly": q_events_hourly,
        "events_asof": q_events_asof,
        "sessionize": q_sessionize,
        "dedup_exact": q_dedup_exact,
        "text_embed": q_text_embed,
        "text_stats": q_text_stats,
        "repetition_signals": q_repetition_signals,
        "scrub_pii": q_scrub_pii,
        "source_mixture": q_source_mixture,
        "minhash_signatures": q_minhash_signatures,
        "minhash_band_pairs": q_minhash_band_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "embedding_near_dups": q_embedding_near_dups,
        "lambda_table": q_lambda_table,
        "lambda_search": q_lambda_search,
        "lambda_search_ann": q_lambda_search_ann,
        "ann_lsh_topk": q_ann_lsh_topk,
        "rank_correlation": q_rank_correlation,
        "rbo_cos_eucl": q_rbo,
        "map_at_10": q_map_at_10,
        "head_tail": q_head_tail,
        "nearest_anchor": q_nearest_anchor,
        "energy_diffusion": q_energy_diffusion,
        "energy_search": q_energy_search,
        "conductance": q_conductance,
        "modularity": q_modularity,
        "label_propagation": q_label_propagation,
        "ppr": q_ppr,
        "media_frame_sample": q_media_frame_sample,
        "media_decode_features": q_media_decode_features,
        # search_hybrid retired as a separate catalog entry (r5): it is
        # pinned == lambda_search (G6 spec gap, zero reference call
        # sites) so one oracle row cannot distinguish them; the
        # operator + q_search_hybrid stay for API parity.
        "random_projection": q_random_projection,
        "paired_ttest": q_paired_ttest,
        "topology_metrics": q_topology_metrics,
        "json_corpus_roundtrip": q_json_corpus_roundtrip,
        "csv_metrics_roundtrip": q_csv_metrics_roundtrip,
        "ndcg_vs_reference": q_ndcg_vs_reference,
        "lang_id": q_lang_id,
        "ivf_ann_topk": q_ivf_ann_topk,
        # graph_sparsity / intrinsic_dim / suggest_params /
        # magnitude_report / eps_sweep / tau_sweep are folded into ONE
        # catalog entry (r5) so the driver's 50-entry correctness
        # window covers every operator; the standalone q_* functions
        # remain and build_diagnostics composes them unchanged.
        "build_diagnostics": q_build_diagnostics,
        "dup_components": q_dup_components,
        "dedup_keeplist": q_dedup_keeplist,
        "shard_by_tokens": q_shard_by_tokens,
        "clean_corpus": q_clean_corpus,
        # r14: stratified_sample + mixture_sample (added mid-dict during
        # the interrupted r13 build, displacing the two entries above out
        # of the driver's window) are folded into ONE composed entry and
        # placed AFTER the frozen 50 — oracle-checked locally, zero
        # displacement risk.
        "corpus_sampling": q_corpus_sampling,
    }
    names = tuple(out)
    # a real check, not an assert: `python -O` strips asserts
    if names[: len(DRIVER_WINDOW_QUERIES)] != DRIVER_WINDOW_QUERIES:
        raise RuntimeError(
            "driver 50-entry correctness window displaced: "
            f"{names[:len(DRIVER_WINDOW_QUERIES)]}")
    return out


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (identical algebra, shared constants)
# ---------------------------------------------------------------------------

# Portable 60-bit md5 hash (== pyarrowspace_spark.functions.text.portable_hash60)
def _sql_hash60(expr: str) -> str:
    return (
        "list_reduce(list_transform(regexp_split_to_array("
        f"substr(md5({expr}),1,15), ''), "
        "c -> strpos('0123456789abcdef', c) - 1), (a,b) -> a*16+b)"
    )


_SQL_TOKENS = "list_filter(string_split(lower({t}), ' '), x -> x <> '')"

_SQL_COS = (
    "(list_dot_product({a},{b}) / "
    "(sqrt(list_dot_product({a},{a})) * sqrt(list_dot_product({b},{b}))))"
)


_IVF_CENTROID_CACHE: dict[str, object] = {}


def _ivf_oracle_centroids():
    """Centroids the IVF oracle embeds as literals: the SAME
    deterministic Lloyd's the Spark query runs, trained on the sf0.01
    corpus — the driver's oracle-compare scale per contract."""
    if "c" not in _IVF_CENTROID_CACHE:
        import numpy as np
        import pyarrow.parquet as pq
        from pyarrowspace_spark.operators.simsearch import lloyd_kmeans

        t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet",
                          columns=["vec_id", "embedding"]).to_pandas()
        t = t.sort_values("vec_id")
        X = np.array([np.asarray(e, dtype=np.float64)
                      for e in t["embedding"]])
        _IVF_CENTROID_CACHE["c"] = lloyd_kmeans(X, IVF_N_CENTROIDS, seed=42)
    return _IVF_CENTROID_CACHE["c"]


def _sql_ivf_ann() -> str:
    C = _ivf_oracle_centroids()
    vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            j, ", ".join(repr(float(v)) for v in C[j]))
        for j in range(len(C)))
    return f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
cents AS (SELECT * FROM (VALUES {vals}) AS t(cell, c)),
d AS (
  SELECT emb.id, cents.cell,
         list_dot_product(e, e) - 2*list_dot_product(e, c)
           + list_dot_product(c, c) AS d2
  FROM emb, cents
),
it AS (
  SELECT id, cell FROM (
    SELECT id, cell, row_number() OVER (PARTITION BY id
                     ORDER BY d2 ASC, cell ASC) AS rn FROM d)
  WHERE rn = 1
),
qu AS (
  SELECT id, cell FROM (
    SELECT id, cell, row_number() OVER (PARTITION BY id
                     ORDER BY d2 ASC, cell ASC) AS rn
    FROM d WHERE id < {N_QUERIES})
  WHERE rn <= {IVF_N_PROBE}
),
cand AS MATERIALIZED (SELECT DISTINCT qu.id AS query_id, it.id AS item_id
         FROM qu JOIN it USING (cell)),
scored AS (
  SELECT c.query_id, c.item_id,
         {_SQL_COS.format(a='q.e', b='x.e')} AS score
  FROM cand c JOIN emb q ON q.id = c.query_id
              JOIN emb x ON x.id = c.item_id
),
ranked AS (SELECT query_id, item_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, item_id ASC)
                    AS rank
           FROM scored)
SELECT query_id, item_id, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOPK}"""


def _sql_knn_edges_cte() -> str:
    """Shared CTE: canonical weighted λτ-graph edges on embeddings."""
    cos = _SQL_COS.format(a="a.e", b="b.e")
    return f"""
emb AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
cand AS MATERIALIZED (
  SELECT a.id AS src, b.id AS dst,
         1.0 - greatest({cos}, 0.0) AS dist
  FROM emb a, emb b WHERE a.id <> b.id
),
inball AS MATERIALIZED (SELECT * FROM cand WHERE dist <= {KNN_EPS}),
knn AS MATERIALIZED (
  SELECT src, dst, dist,
         row_number() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS rn
  FROM inball
),
kept AS MATERIALIZED (SELECT src, dst, dist FROM knn WHERE rn <= {KNN_K}),
canon AS MATERIALIZED (
  SELECT least(src, dst) AS src, greatest(src, dst) AS dst, min(dist) AS dist
  FROM kept GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT src, dst, dist,
         1.0 / (1.0 + pow(dist / {KNN_SIGMA}, {KNN_P})) AS weight
  FROM canon
)"""


_ENERGY_ORACLE_CACHE: dict[str, object] = {}


def _energy_oracle_literals():
    """Lloyd centers (+ dispersion-split children) for the energy_search
    oracle — the ONLY literal-injected stage (k-means init is not
    SQL-expressible; same precedent as the IVF oracle). Every other
    number — graph, diffusion, trim, L_F, e_raw/g/λ, assignment,
    centroid aggregates, shortlist, rescore — is recomputed by DuckDB
    from the parquet. The replica here recomputes the build numerically
    from the raw table (numpy), then trains the identical seeded Lloyd
    the Spark operator runs."""
    if "lit" in _ENERGY_ORACLE_CACHE:
        return _ENERGY_ORACLE_CACHE["lit"]
    import numpy as np
    import pyarrow.parquet as pq

    from pyarrowspace_spark.operators.lambda_index import lambda_kernel
    from pyarrowspace_spark.operators.simsearch import lloyd_kmeans

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet",
                      columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id")
    X = np.stack([np.asarray(e, dtype=np.float64) for e in t["embedding"]])
    n = len(X)
    nrm = np.linalg.norm(X, axis=1)
    cosm = (X @ X.T) / np.outer(nrm, nrm)
    dist = 1.0 - np.maximum(cosm, 0.0)
    # directed eps + k-smallest (ties by dst), OR-symmetrize, kernel
    canon: dict[tuple[int, int], float] = {}
    for i in range(n):
        cand = [(dist[i, j], j) for j in range(n)
                if j != i and dist[i, j] <= KNN_EPS]
        cand.sort()
        for d_ij, j in cand[:KNN_K]:
            key = (min(i, j), max(i, j))
            canon[key] = min(canon.get(key, np.inf), d_ij)
    W = np.zeros((n, n))
    for (a, b), d_ab in canon.items():
        w = 1.0 / (1.0 + (d_ab / KNN_SIGMA) ** KNN_P)
        W[a, b] = W[b, a] = w
    deg = W.sum(axis=1)
    Xd = X.copy()
    for _ in range(DIFF_STEPS):
        Xd = (1.0 - DIFF_ETA * deg)[:, None] * Xd + DIFF_ETA * (W @ Xd)
    # trim + feature Laplacian on the diffused space
    wvals = np.array([1.0 / (1.0 + (d / KNN_SIGMA) ** KNN_P)
                      for d in canon.values()])
    cut = np.percentile(wvals, 10.0)
    Wt = np.where(W >= cut, W, 0.0)
    np.fill_diagonal(Wt, 0.0)
    Lt = np.diag(Wt.sum(axis=1)) - Wt
    LF = Xd.T @ Lt @ Xd
    LF = (LF + LF.T) / 2.0
    e_raw, g, _ = lambda_kernel(Xd, LF, 1.0)  # tau only affects s_val
    tau_synth = float(np.median(e_raw))
    lam = (tau_synth * (e_raw / (e_raw + tau_synth))
           + (1.0 - tau_synth) * np.clip(g, 0.0, 1.0))
    centers0 = lloyd_kmeans(Xd, 40, seed=42)
    d2 = ((Xd[:, None, :] - centers0[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    present = sorted(set(assign.tolist()))
    disp = {c: float(lam[assign == c].std()) for c in present}
    split_cut = np.percentile(np.array([disp[c] for c in present]), 90.0)
    children = []  # (old_cid, child_id, center)
    next_id = 40
    for cid in sorted(c for c in present if disp[c] > split_cut):
        M = Xd[assign == cid]
        if len(M) < 2:
            continue
        c = M.mean(axis=0)
        dev = M - c
        _, s, vt = np.linalg.svd(dev, full_matrices=False)
        if s[0] <= 1e-12:
            continue
        u = vt[0]
        nz = np.nonzero(np.abs(u) > 1e-12)[0][0]
        if u[nz] < 0:
            u = -u
        init = np.stack([c + 0.15 * u, c - 0.15 * u])
        ch = lloyd_kmeans(M, 2, init=init, iters=10)
        children.append((cid, next_id, ch[0]))
        children.append((cid, next_id + 1, ch[1]))
        next_id += 2
    _ENERGY_ORACLE_CACHE["lit"] = (centers0, children)
    return _ENERGY_ORACLE_CACHE["lit"]


def _sql_energy_search() -> str:
    centers0, children = _energy_oracle_literals()

    def arr(v):
        return "[{}]::DOUBLE[]".format(", ".join(repr(float(x)) for x in v))

    cent_vals = ", ".join(f"({j}, {arr(centers0[j])})"
                          for j in range(len(centers0)))
    if children:
        child_vals = ", ".join(
            f"({old}, {cid}, {arr(c)})" for old, cid, c in children)
        child_cte = f"children AS (SELECT * FROM (VALUES {child_vals}) " \
                    "AS t(old_cid, child_id, c)),"
        reassign = """
reassign AS MATERIALIZED (
  SELECT id, child_id AS centroid_id FROM (
    SELECT a.id, ch.child_id,
           row_number() OVER (PARTITION BY a.id ORDER BY
             list_dot_product(x.e, x.e) - 2*list_dot_product(x.e, ch.c)
               + list_dot_product(ch.c, ch.c) ASC, ch.child_id ASC) AS rn
    FROM assign0 a JOIN xd x ON x.id = a.id
    JOIN children ch ON ch.old_cid = a.centroid_id)
  WHERE rn = 1),
final_assign AS MATERIALIZED (
  SELECT id, centroid_id FROM assign0
  WHERE centroid_id NOT IN (SELECT DISTINCT old_cid FROM children)
  UNION ALL SELECT id, centroid_id FROM reassign),"""
    else:
        child_cte = ""
        reassign = "final_assign AS (SELECT id, centroid_id FROM assign0),"

    qids = ", ".join(str(q) for q in LAMBDA_QIDS)
    return f"""
WITH {_sql_knn_edges_cte()},
bothdir AS MATERIALIZED (SELECT src, dst, weight FROM edges
            UNION ALL SELECT dst, src, weight FROM edges),
deg AS MATERIALIZED (SELECT src AS id, sum(weight) AS d FROM bothdir GROUP BY 1),
f0 AS MATERIALIZED (SELECT id, unnest(e) AS v, generate_subscripts(e,1) - 1 AS fi FROM emb),
n0 AS MATERIALIZED (
  SELECT e.dst AS id, f.fi, sum(e.weight * f.v) AS s
  FROM bothdir e JOIN f0 f ON f.id = e.src GROUP BY 1, 2),
d1 AS MATERIALIZED (
  SELECT f0.id, f0.fi,
         (1 - {DIFF_ETA} * coalesce(deg.d, 0)) * f0.v
         + {DIFF_ETA} * coalesce(n0.s, 0) AS v
  FROM f0 LEFT JOIN deg ON deg.id = f0.id
  LEFT JOIN n0 ON n0.id = f0.id AND n0.fi = f0.fi),
n1 AS MATERIALIZED (
  SELECT e.dst AS id, f.fi, sum(e.weight * f.v) AS s
  FROM bothdir e JOIN d1 f ON f.id = e.src GROUP BY 1, 2),
d2step AS MATERIALIZED (
  SELECT d1.id, d1.fi,
         (1 - {DIFF_ETA} * coalesce(deg.d, 0)) * d1.v
         + {DIFF_ETA} * coalesce(n1.s, 0) AS v
  FROM d1 LEFT JOIN deg ON deg.id = d1.id
  LEFT JOIN n1 ON n1.id = d1.id AND n1.fi = d1.fi),
xd AS MATERIALIZED (SELECT id, list(v ORDER BY fi) AS e FROM d2step GROUP BY id),
xf AS MATERIALIZED (SELECT id, fi, v FROM d2step),
tcut AS MATERIALIZED (SELECT quantile_cont(weight, 0.1) AS c FROM edges),
tboth AS MATERIALIZED (SELECT b.src, b.dst, b.weight FROM bothdir b, tcut
          WHERE b.weight >= tcut.c),
tdeg AS MATERIALIZED (SELECT src AS id, sum(weight) AS d FROM tboth GROUP BY 1),
lf_deg AS MATERIALIZED (
  SELECT a.fi AS f, b.fi AS g, sum(td.d * a.v * b.v) AS val
  FROM xf a JOIN xf b ON a.id = b.id JOIN tdeg td ON td.id = a.id
  GROUP BY 1, 2),
lf_edge AS MATERIALIZED (
  SELECT fa.fi AS f, fb.fi AS g, sum(e.weight * fa.v * fb.v) AS val
  FROM tboth e JOIN xf fa ON fa.id = e.src JOIN xf fb ON fb.id = e.dst
  GROUP BY 1, 2),
lf AS MATERIALIZED (
  SELECT d.f, d.g, d.val - coalesce(e.val, 0) AS val
  FROM lf_deg d LEFT JOIN lf_edge e ON e.f = d.f AND e.g = d.g),
eraw AS MATERIALIZED (
  SELECT xa.id, sum(xa.v * lf.val * xb.v) AS e_raw
  FROM xf xa JOIN lf ON lf.f = xa.fi JOIN xf xb
    ON xb.id = xa.id AND xb.fi = lf.g
  GROUP BY 1),
wpos AS MATERIALIZED (SELECT f, g, greatest(-val, 0) AS w FROM lf WHERE f <> g),
dispterms AS MATERIALIZED (
  SELECT xa.id,
         sum(w.w * (xa.v - xb.v) * (xa.v - xb.v)) AS tot,
         sum(w.w * w.w * pow(xa.v - xb.v, 4)) AS sumsq
  FROM wpos w JOIN xf xa ON xa.fi = w.f JOIN xf xb
    ON xb.id = xa.id AND xb.fi = w.g
  GROUP BY 1),
gval AS MATERIALIZED (
  SELECT id, CASE WHEN tot > 0 THEN least(greatest(sumsq / (tot * tot), 0), 1)
                  ELSE 0 END AS g
  FROM dispterms),
tau AS MATERIALIZED (SELECT quantile_cont(e_raw, 0.5) AS t FROM eraw),
lam AS MATERIALIZED (
  SELECT e.id,
         tau.t * (e.e_raw / (e.e_raw + tau.t)) + (1 - tau.t) * g.g AS lambda,
         e.e_raw
  FROM eraw e JOIN gval g ON g.id = e.id, tau),
cents AS (SELECT * FROM (VALUES {cent_vals}) AS t(cell, c)),
assign0 AS MATERIALIZED (
  SELECT id, cell AS centroid_id FROM (
    SELECT x.id, cents.cell,
           row_number() OVER (PARTITION BY x.id ORDER BY
             list_dot_product(x.e, x.e) - 2*list_dot_product(x.e, cents.c)
               + list_dot_product(cents.c, cents.c) ASC, cents.cell ASC) AS rn
    FROM xd x, cents)
  WHERE rn = 1),
{child_cte}
{reassign}
cattrs AS MATERIALIZED (
  SELECT fa.centroid_id, avg(l.lambda) AS lambda_c, avg(l.e_raw) AS e_c
  FROM final_assign fa JOIN lam l ON l.id = fa.id
  GROUP BY 1),
queries AS MATERIALIZED (
  SELECT id AS query_id, lambda AS q_lambda, e_raw AS q_e
  FROM lam WHERE id IN ({qids})),
shortlist AS MATERIALIZED (
  SELECT query_id, centroid_id, q_lambda, q_e FROM (
    SELECT q.query_id, c.centroid_id, q.q_lambda, q.q_e,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {ENERGY_W_LAMBDA} / (1 + abs(q.q_lambda - c.lambda_c))
             + {ENERGY_W_DIRICHLET} / (1 + abs(q.q_e - c.e_c)) DESC,
             c.centroid_id ASC) AS rn
    FROM queries q, cattrs c)
  WHERE rn <= {ENERGY_CANDIDATE_M}),
rescored AS (
  SELECT s.query_id, fa.id AS item_id,
         {ENERGY_W_LAMBDA} / (1 + abs(s.q_lambda - l.lambda))
         + {ENERGY_W_DIRICHLET} / (1 + abs(s.q_e - l.e_raw)) AS score
  FROM shortlist s
  JOIN final_assign fa ON fa.centroid_id = s.centroid_id
  JOIN lam l ON l.id = fa.id),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM rescored)
SELECT query_id, item_id, CAST(rank AS BIGINT) AS rank,
       round(score, 5) AS score_r
FROM ranked WHERE rank <= {TOPK}"""


def _sql_shingles_cte() -> str:
    toks = _SQL_TOKENS.format(t="text")
    return f"""
toks AS (SELECT doc_id, {toks} AS tk FROM documents),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(tk) - {JACCARD_N - 1}, 0) + 1),
                i -> array_to_string(tk[i : i + {JACCARD_N - 1}], ' '))) AS shingle
  FROM toks WHERE len(tk) >= {JACCARD_N}
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw),
shh AS (SELECT doc_id, shingle, {_sql_hash60('shingle')} % {D.MINHASH_PRIME} AS h FROM sh)"""


def _sql_minhash_cte() -> str:
    perm_rows = ", ".join(
        f"({i}, {D.MINHASH_A[i]}, {D.MINHASH_B[i]})" for i in range(D.NUM_PERM)
    )
    return f"""{_sql_shingles_cte()},
perms(perm, a, b) AS (VALUES {perm_rows}),
sig AS (
  SELECT doc_id, perm, min((a * h + b) % {D.MINHASH_PRIME}) AS minhash
  FROM shh CROSS JOIN perms GROUP BY doc_id, perm
)"""


def _sql_simhash() -> str:
    toks = _SQL_TOKENS.format(t="text")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tk AS (
  SELECT DISTINCT doc_id, unnest({toks}) AS tok FROM documents
),
th AS (SELECT doc_id, tok, {_sql_hash60('tok')} AS h FROM tk),
votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes"""


def _sql_lambda_cte() -> str:
    """Shared CTEs replicating the full spectral pipeline in SQL:
    λτ-graph → degrees → F×F feature Laplacian L_F = XᵀLX → Rayleigh
    e_raw → Gini dispersion → λ, for items AND perturbed queries.
    Validated against a numpy ground-truth implementation
    (prototypes/lambda_sql.py)."""
    return f"""{_sql_knn_edges_cte()},
bothdir AS MATERIALIZED (SELECT src, dst, weight FROM edges
            UNION ALL SELECT dst, src, weight FROM edges),
deg AS MATERIALIZED (SELECT src AS id, sum(weight) AS d FROM bothdir GROUP BY 1),
feats AS (SELECT id, unnest(e) AS v, generate_subscripts(e,1) AS fi FROM emb),
lf_diag AS (
  SELECT a.fi AS fi, b.fi AS fj, sum(d.d * a.v * b.v) AS val
  FROM feats a JOIN feats b USING (id) JOIN deg d ON d.id = a.id
  GROUP BY 1, 2),
lf_edge AS MATERIALIZED (
  SELECT a.fi AS fi, b.fi AS fj, sum(-e.weight * a.v * b.v) AS val
  FROM bothdir e JOIN feats a ON a.id = e.src JOIN feats b ON b.id = e.dst
  GROUP BY 1, 2),
lf AS MATERIALIZED (
  SELECT fi, fj, sum(val) AS lv FROM (
    SELECT * FROM lf_diag UNION ALL SELECT * FROM lf_edge) GROUP BY 1, 2),
q AS (SELECT id AS qid, list_transform(e, x -> x * 1.05) AS e
      FROM emb WHERE id IN {LAMBDA_QIDS}),
qfeats AS (SELECT qid AS id, unnest(e) AS v, generate_subscripts(e,1) AS fi FROM q),
allfeats AS (
  SELECT 'i' AS kind, id, v, fi FROM feats
  UNION ALL SELECT 'q' AS kind, id, v, fi FROM qfeats),
eraw AS MATERIALIZED (
  SELECT f1.kind, f1.id, sum(f1.v * l.lv * f2.v) AS e_raw
  FROM allfeats f1
  JOIN lf l ON l.fi = f1.fi
  JOIN allfeats f2 ON f2.kind = f1.kind AND f2.id = f1.id AND f2.fi = l.fj
  GROUP BY 1, 2),
tau_synth AS (
  SELECT quantile_cont(e_raw, 0.5) AS t FROM eraw WHERE kind = 'i'),
fedges AS (SELECT fi, fj, -lv AS w FROM lf WHERE fi <> fj AND -lv > 0),
gshare AS (
  SELECT f1.kind, f1.id,
         sum(fe.w * (f1.v - f2.v) * (f1.v - f2.v)) AS tot,
         sum(pow(fe.w * (f1.v - f2.v) * (f1.v - f2.v), 2)) AS sumsq
  FROM fedges fe
  JOIN allfeats f1 ON f1.fi = fe.fi
  JOIN allfeats f2 ON f2.kind = f1.kind AND f2.id = f1.id AND f2.fi = fe.fj
  GROUP BY 1, 2),
gval AS MATERIALIZED (
  SELECT kind, id,
         least(greatest(CASE WHEN tot > 0 THEN sumsq / (tot * tot)
                             ELSE 0 END, 0.0), 1.0) AS g
  FROM gshare)"""


_SQL_STOPWORDS = "[" + ", ".join(f"'{w}'" for w in T.STOPWORDS) + "]"

# Ideal-DCG lookup: idcg(n) = Σ_{i=1..n} 1/log2(i+1), n = 1..TOPK.
# Python float repr round-trips exactly, so both engines see identical
# doubles; the Spark side sums the same series termwise (rounded to 6
# decimals at the end, masking association-order noise).
def _idcg_lut() -> str:
    import math

    acc, rows = 0.0, []
    for i in range(1, TOPK + 1):
        acc += 1.0 / math.log2(i + 1)
        rows.append(f"({i}, {acc!r})")
    return ", ".join(rows)


_IDCG_LUT = _idcg_lut()


def _sql_ann_buckets(src: str, vec: str) -> str:
    """Bucket columns for each LSH table from hyperplane literals."""
    planes = _ann_planes()
    cols = []
    for t in range(planes.shape[0]):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product({vec}, "
            f"[{', '.join(repr(float(x)) for x in planes[t, j])}]) > 0 "
            f"THEN {2 ** j} ELSE 0 END)"
            for j in range(planes.shape[1])
        )
        cols.append(f"CAST({bits} AS BIGINT) AS bucket_{t}")
    return f"SELECT *, {', '.join(cols)} FROM {src}"


def _sql_cos_eucl_rankings_cte() -> str:
    """Shared CTE: cosine and euclidean top-RANKCORR_K rankings for
    the first N_QUERIES embeddings (self excluded)."""
    cos = _SQL_COS.format(a="q.e", b="c.e")
    return f"""
emb AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT id, e FROM emb WHERE id < {N_QUERIES}),
base AS (
  SELECT q.id AS query_id, c.id AS item_id,
         {cos} AS cos, list_distance(q.e, c.e) AS eucl
  FROM q, emb c WHERE q.id <> c.id
),
rank_cos AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, item_id ASC) AS rank
  FROM base QUALIFY rank <= {RANKCORR_K}
),
rank_eucl AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY eucl ASC, item_id ASC) AS rank
  FROM base QUALIFY rank <= {RANKCORR_K}
)"""


def _sql_lpa_blocks() -> str:
    """LPA_ITERS chained label-propagation CTE blocks."""
    blocks = ["lab0 AS (SELECT DISTINCT src AS node, src AS community FROM bothdir)"]
    for t in range(LPA_ITERS):
        blocks.append(f"""
v{t} AS (
  SELECT b.dst AS node, l.community, sum(b.weight) AS w
  FROM bothdir b JOIN lab{t} l ON l.node = b.src
  GROUP BY b.dst, l.community),
p{t} AS (
  SELECT node, community FROM (
    SELECT node, community,
           row_number() OVER (PARTITION BY node
                              ORDER BY w DESC, community ASC) AS rn
    FROM v{t}) WHERE rn = 1),
lab{t + 1} AS (
  SELECT l.node, coalesce(p.community, l.community) AS community
  FROM lab{t} l LEFT JOIN p{t} p USING (node))""")
    return ",".join(blocks)


def _sql_ppr_blocks(sources=LAMBDA_QIDS) -> str:
    """PPR_ITERS chained power-iteration CTE blocks."""
    src_vals = ", ".join(f"({s}, {s}, 1.0)" for s in sources)
    restart_vals = ", ".join(f"({s}, {s})" for s in sources)
    blocks = [f"""
deg AS MATERIALIZED (SELECT src AS node, sum(weight) AS degree FROM bothdir GROUP BY 1),
trans AS (
  SELECT b.src, b.dst, b.weight / d.degree AS p
  FROM bothdir b JOIN deg d ON d.node = b.src),
restart(source, node) AS (VALUES {restart_vals}),
ppr0(source, node, ppr) AS (VALUES {src_vals})"""]
    for t in range(PPR_ITERS):
        blocks.append(f"""
ppr{t + 1} AS (
  SELECT source, node, sum(v) AS ppr FROM (
    SELECT p.source, t.dst AS node, {PPR_ALPHA} * p.ppr * t.p AS v
    FROM ppr{t} p JOIN trans t ON t.src = p.node
    UNION ALL
    SELECT source, node, {1.0 - PPR_ALPHA} AS v FROM restart
  ) GROUP BY 1, 2)""")
    return ",".join(blocks)


def _sql_topology_metrics() -> str:
    """Full M8/M9 suite in SQL: λτ-graph → PPR (power iterations) →
    LPA communities → cosine rankings → prefix conductance/share →
    T_i → G-RBP / TD-nDCG / IT-ERR / MRR-Topo / SQI."""
    K = TOPK
    cos = _SQL_COS.format(a="q.e", b="c.e")
    return f"""
WITH {_sql_knn_edges_cte()},
bothdir AS MATERIALIZED (SELECT src, dst, weight FROM edges
            UNION ALL SELECT dst, src, weight FROM edges),
{_sql_ppr_blocks(tuple(range(N_QUERIES)))},
{_sql_lpa_blocks()},
corpus AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e, label
           FROM embeddings),
q AS (SELECT * FROM corpus WHERE id < {N_QUERIES}),
base AS (
  SELECT q.id AS query_id, c.id AS item_id, q.label AS ql, c.label AS cl,
         {cos} AS cos
  FROM q, corpus c),
rk0 AS (SELECT query_id, item_id, ql, cl,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, item_id ASC) AS rank
        FROM base QUALIFY rank <= {K + 1}),
rankings AS (SELECT query_id, item_id,
             row_number() OVER (PARTITION BY query_id ORDER BY rank0) AS rank,
             CASE WHEN ql = cl THEN 1 ELSE 0 END AS rel
             FROM (SELECT query_id, item_id, ql, cl, rank AS rank0
                   FROM rk0 WHERE query_id <> item_id)
             QUALIFY rank <= {K}),
vt AS (SELECT sum(weight) AS vt FROM bothdir),
vol AS (SELECT r.query_id, r.rank AS d,
        sum(coalesce(g.degree, 0)) OVER (PARTITION BY r.query_id
                                         ORDER BY r.rank) AS vol_s
        FROM rankings r LEFT JOIN deg g ON g.node = r.item_id),
es AS (SELECT r.query_id, e.src, e.dst, e.weight, r.rank AS rank_s
       FROM edges e JOIN rankings r ON r.item_id = e.src),
ed AS (SELECT r.query_id, e.src, e.dst, e.weight, r.rank AS rank_d
       FROM edges e JOIN rankings r ON r.item_id = e.dst),
touched AS (
  SELECT query_id, src, dst, weight,
         least(coalesce(rank_s, {K + 1}), coalesce(rank_d, {K + 1})) AS rmin,
         greatest(coalesce(rank_s, {K + 1}), coalesce(rank_d, {K + 1})) AS rmax
  FROM es FULL JOIN ed USING (query_id, src, dst, weight)),
cut AS (
  SELECT query_id, d, sum(weight) AS cut FROM (
    SELECT query_id, weight,
           unnest(range(rmin, least(rmax - 1, {K}) + 1)) AS d
    FROM touched WHERE rmin <= {K} AND rmax > rmin)
  GROUP BY 1, 2),
cond AS (
  SELECT v.query_id, v.d,
         CASE WHEN least(v.vol_s, (SELECT vt FROM vt) - v.vol_s) <= 0
              THEN 1.0
              ELSE coalesce(c.cut, 0)
                   / least(v.vol_s, (SELECT vt FROM vt) - v.vol_s) END AS cond
  FROM vol v LEFT JOIN cut c ON c.query_id = v.query_id AND c.d = v.d),
labeled AS (
  SELECT r.query_id, r.rank, coalesce(l.community, -1) AS community
  FROM rankings r LEFT JOIN lab{LPA_ITERS} l ON l.node = r.item_id),
cnt AS (SELECT query_id, d, community, count(*) AS n FROM (
          SELECT query_id, community, unnest(range(rank, {K} + 1)) AS d
          FROM labeled)
        GROUP BY 1, 2, 3),
shr AS (SELECT query_id, d, max(n)::DOUBLE / d AS max_share
        FROM cnt GROUP BY 1, 2),
tfac AS (
  SELECT r.query_id, r.item_id, r.rank, r.rel,
         0.4 * coalesce(p.ppr, 0.0) + 0.3 * (1.0 - c.cond)
         + 0.3 * s.max_share AS t
  FROM rankings r
  LEFT JOIN ppr{PPR_ITERS} p ON p.source = r.query_id AND p.node = r.item_id
  JOIN cond c ON c.query_id = r.query_id AND c.d = r.rank
  JOIN shr s ON s.query_id = r.query_id AND s.d = r.rank),
terms AS (
  SELECT *, exp(coalesce(
    sum(ln(1.0 - rel / {ERR_MAX_GRADE}.0 * t))
      OVER (PARTITION BY query_id ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS ns
  FROM tfac),
agg AS (
  SELECT query_id,
         sum({1.0 - RBP_P} * rel * pow({RBP_P}, rank - 1) * t) AS g_rbp,
         sum((pow(2.0, rel) - 1.0) * t / log2(rank + 1)) AS td_dcg,
         max(t) AS max_t,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel,
         sum(ns * rel / {ERR_MAX_GRADE}.0 * t / rank) AS it_err,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel
  FROM terms GROUP BY 1),
lut(n, v) AS (VALUES {_IDCG_LUT}),
pprsum AS (
  SELECT r.query_id, sum(coalesce(p.ppr, 0.0)) AS s
  FROM rankings r
  LEFT JOIN ppr{PPR_ITERS} p ON p.source = r.query_id AND p.node = r.item_id
  GROUP BY 1),
sqiv AS (
  SELECT c.query_id,
         0.4 * (1.0 - c.cond) + 0.3 * s.max_share + 0.3 * ps.s AS sqi
  FROM cond c
  JOIN shr s ON s.query_id = c.query_id AND s.d = c.d
  JOIN pprsum ps ON ps.query_id = c.query_id
  WHERE c.d = {K})
SELECT a.query_id,
       round(a.g_rbp, 6) AS g_rbp_r,
       round(CASE WHEN a.n_rel > 0
                  THEN a.td_dcg / (a.max_t * (SELECT v FROM lut WHERE n = a.n_rel))
                  ELSE 0.0 END, 6) AS td_ndcg_r,
       round(a.it_err, 6) AS it_err_r,
       round(coalesce(t2.t / a.first_rel, 0.0), 6) AS mrr_topo_r,
       round(sq.sqi, 6) AS sqi_r
FROM agg a
LEFT JOIN tfac t2 ON t2.query_id = a.query_id AND t2.rank = a.first_rel
JOIN sqiv sq ON sq.query_id = a.query_id"""


def _sql_random_projection() -> str:
    """Projection oracle: the same md5-derived ±1 sign vectors embedded
    as list literals (the sign matrix is engine-portable by design)."""
    import math

    from pyarrowspace_spark.operators.dimred import rademacher_signs

    signs = rademacher_signs(N_FEATURES, RP_K)
    inv = 1.0 / math.sqrt(RP_K)
    cols = []
    for j in range(RP_K):
        lit = "[" + ", ".join(f"{float(s)!r}" for s in signs[:, j]) + "]"
        cols.append(
            f"round(list_dot_product(e, {lit}) * {inv!r}, 6) AS p{j}_r")
    return f"""
WITH emb AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT item_id, {', '.join(cols)} FROM emb"""


def oracle_sql() -> dict[str, str]:
    cos_qc = _SQL_COS.format(a="q.e", b="c.e")
    d = {
        "cosine_topk": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT id, e FROM emb WHERE id < {N_QUERIES}),
scored AS (
  SELECT q.id AS query_id, c.id AS item_id, {cos_qc} AS score
  FROM q, emb c
),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored
)
SELECT query_id, item_id, CAST(rank AS BIGINT) AS rank,
       round(score, 4) AS score_r
FROM ranked WHERE rank <= {TOPK}""",

        "knn_graph_edges": f"""
WITH {_sql_knn_edges_cte()}
SELECT src, dst, round(dist, 6) AS dist_r, round(weight, 6) AS weight_r
FROM edges""",

        "graph_degrees": f"""
WITH {_sql_knn_edges_cte()},
both_dir AS (
  SELECT src AS node, weight FROM edges
  UNION ALL
  SELECT dst AS node, weight FROM edges
)
SELECT node, round(sum(weight), 6) AS degree_r FROM both_dir GROUP BY node""",

        "ir_quality_labels": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e, label FROM embeddings),
q AS (SELECT id, e, label FROM emb WHERE id < {IR_N_QUERIES}),
scored AS (
  SELECT q.id AS query_id, c.id AS item_id, {cos_qc} AS score
  FROM q, emb c WHERE q.id <> c.id
),
ranked AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored
),
topk AS (SELECT * FROM ranked WHERE rank <= {TOPK}),
qrels AS (
  SELECT q.id AS query_id, c.id AS item_id
  FROM q JOIN emb c ON q.label = c.label AND q.id <> c.id
),
nrel AS (SELECT query_id, count(*) AS n_relevant FROM qrels GROUP BY 1),
hits AS (
  SELECT t.query_id, t.rank
  FROM topk t JOIN qrels r ON t.query_id = r.query_id AND t.item_id = r.item_id
),
rec AS (
  SELECT n.query_id,
         coalesce(h.n_hit, 0)::DOUBLE / n.n_relevant AS recall
  FROM nrel n LEFT JOIN (SELECT query_id, count(*) AS n_hit
                         FROM hits GROUP BY 1) h USING (query_id)
),
mrr_t AS (
  SELECT q.id AS query_id,
         coalesce(1.0 / (SELECT min(rank) FROM hits h WHERE h.query_id = q.id),
                  0.0) AS mrr
  FROM q
),
dcg AS (SELECT query_id, sum(1.0 / log2(rank + 1)) AS dcg FROM hits GROUP BY 1),
idcg_lut(n, v) AS (VALUES {_IDCG_LUT}),
idcg AS (
  SELECT n.query_id, l.v AS idcg
  FROM nrel n JOIN idcg_lut l ON l.n = least(n.n_relevant, {TOPK})
),
ndcg_t AS (
  SELECT i.query_id, coalesce(d.dcg / i.idcg, 0.0) AS ndcg
  FROM idcg i LEFT JOIN dcg d USING (query_id)
)
SELECT r.query_id, round(r.recall, 6) AS recall_r,
       round(m.mrr, 6) AS mrr_r, round(n.ndcg, 6) AS ndcg_r
FROM rec r JOIN mrr_t m USING (query_id) JOIN ndcg_t n USING (query_id)""",

        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",

        "top_customers": """
WITH rev AS (
  SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT n.n_name, c.c_custkey, r.revenue
  FROM rev r
  JOIN customer c ON r.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
  SELECT n_name, c_custkey, revenue,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY revenue DESC, c_custkey ASC) AS rank
  FROM j
)
SELECT n_name, c_custkey, revenue, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5""",

        "events_hourly": """
WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events)
SELECT ts_us // 3600000000 AS hour_id,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM e GROUP BY 1, 2""",

        "events_asof": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
           FROM events),
w AS (
  SELECT event_id, user_id, ts_us, event_type,
         last_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_us
  FROM e
)
SELECT event_id, user_id, ts_us, prev_view_us
FROM w WHERE event_type = 'click'""",

        "sessionize": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
g AS (
  SELECT user_id, event_id, ts_us,
         ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                  ORDER BY ts_us ASC, event_id ASC) AS gap
  FROM e
),
m AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM g
),
s AS (
  SELECT user_id, ts_us,
         sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts_us ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
  FROM m
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us
FROM s GROUP BY user_id, session_id""",

        "dedup_exact": f"""
WITH toks AS (
  SELECT doc_id,
         array_to_string({_SQL_TOKENS.format(t='text')}, ' ') AS norm
  FROM documents
),
fp AS (SELECT doc_id, {_sql_hash60('norm')} AS fingerprint FROM toks)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_id
FROM fp GROUP BY fingerprint""",

        "text_embed": f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS.format(t='text')}) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, {_sql_hash60('tok')} AS h FROM toks
),
sums AS (
  SELECT doc_id, CAST(h % 64 AS BIGINT) AS dim_idx,
         SUM(CASE WHEN (h // 64) % 2 = 1 THEN 1.0 ELSE -1.0 END) AS v
  FROM hashed GROUP BY 1, 2
),
grid AS (
  SELECT d.doc_id, g.dim_idx
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN (SELECT CAST(unnest(range(64)) AS BIGINT) AS dim_idx) g
),
dims AS (
  SELECT grid.doc_id, grid.dim_idx, COALESCE(s.v, 0.0) AS v
  FROM grid LEFT JOIN sums s
    ON s.doc_id = grid.doc_id AND s.dim_idx = grid.dim_idx
),
norms AS (
  SELECT doc_id, sqrt(SUM(v * v)) AS nrm FROM dims GROUP BY doc_id
)
SELECT d.doc_id, d.dim_idx,
       ROUND(CASE WHEN n.nrm > 0 THEN d.v / n.nrm * 12.0 ELSE 0.0 END,
             6) AS value_r
FROM dims d JOIN norms n ON d.doc_id = n.doc_id""",

        "repetition_signals": f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS tk FROM documents
),
base AS (
  SELECT doc_id, len(tk) AS n_tokens,
         len(list_distinct(tk)) AS n_distinct,
         list_reduce(list_prepend(0, list_transform(tk, t -> length(t))),
                     (a, b) -> a + b) AS n_word_chars
  FROM toks
),
uni AS (
  -- Gopher definition: char mass of the MOST FREQUENT word
  -- (count desc, ties -> lexicographically smallest gram)
  SELECT doc_id, cnt * length(g) AS top_uni_chars FROM (
    SELECT doc_id, g, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, g ASC) AS rn FROM (
      SELECT doc_id, g, count(*) AS cnt FROM (
        SELECT doc_id, unnest(tk) AS g FROM toks) GROUP BY 1, 2))
  WHERE rn = 1
),
bi AS (
  SELECT doc_id, cnt * (length(g) - 1) AS top_bi_chars FROM (
    SELECT doc_id, g, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, g ASC) AS rn FROM (
      SELECT doc_id, g, count(*) AS cnt FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                                     i -> tk[i] || ' ' || tk[i + 1])) AS g
        FROM toks) GROUP BY 1, 2))
  WHERE rn = 1
)
SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN b.n_tokens > 0
                  THEN b.n_distinct * 1.0 / b.n_tokens ELSE 0 END,
             6) AS distinct_ratio_r,
       round(CASE WHEN b.n_word_chars > 0
                  THEN coalesce(u.top_uni_chars, 0) * 1.0 / b.n_word_chars
                  ELSE 0 END, 6) AS top_unigram_frac_r,
       round(CASE WHEN b.n_word_chars > 0
                  THEN coalesce(bb.top_bi_chars, 0) * 1.0 / b.n_word_chars
                  ELSE 0 END, 6) AS top_bigram_frac_r
FROM base b LEFT JOIN uni u ON u.doc_id = b.doc_id
LEFT JOIN bi bb ON bb.doc_id = b.doc_id""",

        "scrub_pii": f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || doc_id
                   || '@example.com id 1234567890123 see https://ex.org/d'
                   || doc_id
              ELSE text END AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{Q.EMAIL_RE}')) AS n_emails,
         regexp_replace(text, '{Q.EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM injected
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '{Q.URL_RE}')) AS n_urls,
         regexp_replace(t1, '{Q.URL_RE}', '<URL>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_emails, n_urls,
         len(regexp_extract_all(t2, '{Q.LONG_DIGITS_RE}')) AS n_digit_runs,
         regexp_replace(t2, '{Q.LONG_DIGITS_RE}', '<NUM>', 'g') AS scrubbed
  FROM s2
)
SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(n_digit_runs AS BIGINT) AS n_digit_runs,
       {_sql_hash60('scrubbed')} AS scrubbed_fp
FROM s3""",

        # r14: the standalone stratified_sample / mixture_sample oracle
        # bodies (r13 build) are UNION'd into one composed entry to
        # match the folded catalog entry — same SQL, one section column.
        "corpus_sampling": f"""
WITH fr(source, frac) AS (
  VALUES {", ".join(f"('{s}', {f})"
                    for s, f in sorted(STRATA_FRACTIONS.items()))}
),
strat_r AS (
  SELECT d.doc_id, d.source, d.n_chars, fr.frac,
         row_number() OVER (
             PARTITION BY d.source
             ORDER BY md5('{STRATA_SEED}|' || CAST(d.doc_id AS VARCHAR)),
                      d.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.source) AS n
  FROM documents d JOIN fr USING (source)
),
per_src AS (
  SELECT source,
         sum(len({_SQL_TOKENS.format(t='text')}))::BIGINT AS n_tokens
  FROM documents GROUP BY 1
),
w AS (
  SELECT source,
         pow(n_tokens * 1.0 / sum(n_tokens) OVER (),
             {Q.MIXTURE_ALPHA}) AS raw
  FROM per_src
),
b AS (
  SELECT source,
         CAST(ceil(round(raw / sum(raw) OVER (), 9)
                   * {float(MIXTURE_SAMPLE_TOKENS)}) AS BIGINT)
             AS tok_budget
  FROM w
),
mix_r AS (
  SELECT d.doc_id, d.source,
         len({_SQL_TOKENS.format(t='d.text')})::BIGINT AS n_tok,
         sum(len({_SQL_TOKENS.format(t='d.text')})) OVER (
             PARTITION BY d.source
             ORDER BY md5('{STRATA_SEED}|'
                          || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ROWS UNBOUNDED PRECEDING) AS cum,
         b.tok_budget
  FROM documents d JOIN b USING (source)
)
SELECT 'stratified' AS section, doc_id, source,
       CAST(n_chars AS BIGINT) AS value
FROM strat_r WHERE rn <= ceil(n * frac)
UNION ALL
SELECT 'mixture' AS section, doc_id, source, n_tok AS value
FROM mix_r WHERE cum - n_tok < tok_budget""",

        "source_mixture": f"""
WITH per_src AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len({_SQL_TOKENS.format(t='text')}))::BIGINT AS n_tokens
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_docs, n_tokens,
         pow(n_tokens * 1.0 / sum(n_tokens) OVER (),
             {Q.MIXTURE_ALPHA}) AS raw
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       round(raw / sum(raw) OVER (), 9) AS weight_r
FROM w""",

        "text_stats": f"""
WITH t AS (
  SELECT doc_id, text, lower(text) AS low,
         {_SQL_TOKENS.format(t='text')} AS tk
  FROM documents
),
stats AS (
  SELECT doc_id,
         len(tk) AS n_tokens,
         length(text) AS n_chars_seen,
         CASE WHEN length(low) > 0
              THEN length(regexp_replace(low, '[a-z0-9 ]', '', 'g'))::DOUBLE
                   / length(low)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(tk) > 0
              THEN len(list_filter(tk, x -> list_contains({_SQL_STOPWORDS}, x)))::DOUBLE
                   / len(tk)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN len(tk) > 0
              THEN list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk)
              ELSE 0.0 END AS mean_tok_len,
         array_to_string(tk, ' ') AS norm
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars_seen AS BIGINT) AS n_chars_seen,
       round(punct_ratio, 6) AS punct_ratio_r,
       round(stopword_ratio, 6) AS stopword_ratio_r,
       round(mean_tok_len, 6) AS mean_tok_len_r,
       round(0.4 * least(1.0, n_tokens / 100.0)
             + 0.3 * (1.0 - punct_ratio)
             + 0.3 * (1.0 - abs(stopword_ratio - 0.4)), 6) AS quality_r,
       {_sql_hash60('norm')} AS fingerprint
FROM stats""",

        "minhash_signatures": f"""
WITH {_sql_minhash_cte()}
SELECT doc_id, CAST(perm AS BIGINT) AS perm, minhash FROM sig""",

        "minhash_band_pairs": f"""
WITH {_sql_minhash_cte()},
banded AS (
  SELECT doc_id, perm // {D.BAND_ROWS} AS band,
         string_agg(perm || ':' || minhash, ',' ORDER BY perm || ':' || minhash)
           AS band_key
  FROM sig GROUP BY doc_id, band
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""",

        "ngram_jaccard": f"""
WITH {_sql_shingles_cte()},
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.n_inter::DOUBLE / (ca.n_sh + cb.n_sh - i.n_inter), 6) AS jaccard_r
FROM inter i
JOIN counts ca ON i.id_a = ca.doc_id
JOIN counts cb ON i.id_b = cb.doc_id
WHERE i.n_inter::DOUBLE / (ca.n_sh + cb.n_sh - i.n_inter) >= {JACCARD_T}""",

        "simhash": _sql_simhash(),

        "lambda_table": f"""
WITH {_sql_lambda_cte()}
SELECT e.id AS item_id,
       round((SELECT t FROM tau_synth) * (e.e_raw / (e.e_raw + (SELECT t FROM tau_synth)))
             + (1 - (SELECT t FROM tau_synth)) * g.g, 6) AS lambda_r
FROM eraw e JOIN gval g ON g.kind = e.kind AND g.id = e.id
WHERE e.kind = 'i'""",

        "lambda_search": f"""
WITH {_sql_lambda_cte()},
lam AS MATERIALIZED (
  SELECT e.kind, e.id,
         {LAMBDA_TAU} * (e.e_raw / (e.e_raw + {LAMBDA_TAU}))
         + (1 - {LAMBDA_TAU}) * g.g AS lam
  FROM eraw e JOIN gval g ON g.kind = e.kind AND g.id = e.id),
scored AS (
  SELECT q.qid AS query_id, c.id AS item_id,
         {LAMBDA_TAU} * {_SQL_COS.format(a='q.e', b='c.e')}
         + (1 - {LAMBDA_TAU}) * (1.0 / (1.0 + abs(lq.lam - lx.lam))) AS score
  FROM q JOIN lam lq ON lq.kind = 'q' AND lq.id = q.qid
  CROSS JOIN emb c
  JOIN lam lx ON lx.kind = 'i' AND lx.id = c.id),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored)
SELECT query_id, item_id, CAST(rank AS BIGINT) AS rank,
       round(score, 5) AS score_r
FROM ranked WHERE rank <= {TOPK}""",

        "lambda_search_ann": f"""
WITH {_sql_lambda_cte()},
lam AS MATERIALIZED (
  SELECT e.kind, e.id,
         {LAMBDA_TAU} * (e.e_raw / (e.e_raw + {LAMBDA_TAU}))
         + (1 - {LAMBDA_TAU}) * g.g AS lam
  FROM eraw e JOIN gval g ON g.kind = e.kind AND g.id = e.id),
it AS ({_sql_ann_buckets('emb', 'e')}),
qu0 AS (SELECT * FROM it WHERE id IN {LAMBDA_QIDS}),
probes AS (
  {' UNION ALL '.join(
      "SELECT id, unnest(["
      + ", ".join([f"bucket_{t}"]
                  + [f"xor(bucket_{t}, {1 << j})"
                     for j in range(ANN_N_PLANES)])
      + f"]) AS probe, {t} AS tbl FROM qu0"
      for t in range(ANN_N_TABLES))}
),
acand AS (
  {' UNION ALL '.join(
      f"SELECT p.id AS query_id, it.id AS item_id "
      f"FROM probes p JOIN it ON p.tbl = {t} AND p.probe = it.bucket_{t}"
      for t in range(ANN_N_TABLES))}
),
dedup AS (SELECT DISTINCT query_id, item_id FROM acand),
scored AS (
  SELECT d.query_id, d.item_id,
         {LAMBDA_TAU} * {_SQL_COS.format(a='q.e', b='c.e')}
         + (1 - {LAMBDA_TAU}) * (1.0 / (1.0 + abs(lq.lam - lx.lam))) AS score
  FROM dedup d
  JOIN q ON q.qid = d.query_id
  JOIN emb c ON c.id = d.item_id
  JOIN lam lq ON lq.kind = 'q' AND lq.id = d.query_id
  JOIN lam lx ON lx.kind = 'i' AND lx.id = d.item_id),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored)
SELECT query_id, item_id, CAST(rank AS BIGINT) AS rank,
       round(score, 5) AS score_r
FROM ranked WHERE rank <= {TOPK}""",

        "ann_lsh_topk": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
it AS ({_sql_ann_buckets('emb', 'e')}),
qu0 AS (SELECT * FROM it WHERE id < {N_QUERIES}),
qu AS (
  {' UNION ALL '.join(
      f"SELECT id, unnest(["
      + ", ".join([f"bucket_{t}"]
                  + [f"xor(bucket_{t}, {1 << j})"
                     for j in range(ANN_N_PLANES)])
      + f"]) AS probe, {t} AS tbl FROM qu0"
      for t in range(ANN_N_TABLES))}
),
cand AS MATERIALIZED (
  {' UNION ALL '.join(
      f"SELECT qu.id AS query_id, it.id AS item_id "
      f"FROM qu JOIN it ON qu.tbl = {t} AND qu.probe = it.bucket_{t}"
      for t in range(ANN_N_TABLES))}
),
dedup AS (SELECT DISTINCT query_id, item_id FROM cand),
scored AS (
  SELECT d.query_id, d.item_id,
         {_SQL_COS.format(a='q.e', b='c.e')} AS score
  FROM dedup d JOIN emb q ON q.id = d.query_id JOIN emb c ON c.id = d.item_id
),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored
)
SELECT query_id, item_id, CAST(rank AS BIGINT) AS rank,
       round(score, 4) AS score_r
FROM ranked WHERE rank <= {ANN_K}""",

        "ivf_ann_topk": _sql_ivf_ann(),
        "energy_search": _sql_energy_search(),

        "rank_correlation": f"""
WITH {_sql_cos_eucl_rankings_cte()},
j AS (
  SELECT a.query_id, a.item_id, a.rank AS ra, b.rank AS rb
  FROM rank_cos a JOIN rank_eucl b USING (query_id, item_id)
),
dense AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ra, item_id) AS da,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rb, item_id) AS db,
         ra, rb
  FROM j
),
sp AS (
  SELECT query_id, corr(da::DOUBLE, db::DOUBLE) AS spearman
  FROM dense GROUP BY query_id
),
pairs AS (
  SELECT x.query_id,
         sign(x.ra - y.ra) * sign(x.rb - y.rb) AS concord
  FROM j x JOIN j y
    ON x.query_id = y.query_id AND x.item_id < y.item_id
),
kt AS (
  SELECT p.query_id,
         sum(p.concord)::DOUBLE / (n.n * (n.n - 1) / 2) AS kendall
  FROM pairs p
  JOIN (SELECT query_id, count(*) AS n FROM j GROUP BY 1) n USING (query_id)
  GROUP BY p.query_id, n.n
)
SELECT s.query_id, round(s.spearman, 6) AS spearman_r,
       round(k.kendall, 6) AS kendall_r
FROM sp s JOIN kt k USING (query_id)
WHERE s.spearman IS NOT NULL""",

        "rbo_cos_eucl": f"""
WITH {_sql_cos_eucl_rankings_cte()},
depths(d) AS (VALUES {', '.join(f'({d})' for d in range(1, 11))}),
ov AS (
  SELECT a.query_id, dp.d, count(*)::DOUBLE / dp.d AS ov
  FROM depths dp
  JOIN rank_cos a ON a.rank <= dp.d
  JOIN rank_eucl b ON b.query_id = a.query_id
                   AND b.item_id = a.item_id AND b.rank <= dp.d
  GROUP BY a.query_id, dp.d
)
SELECT query_id,
       round(sum(ov * (0.09999999999999998 * pow(0.9, d - 1))), 6) AS rbo_r
FROM ov GROUP BY query_id""",

        "map_at_10": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e, label FROM embeddings),
q AS (SELECT id, e, label FROM emb WHERE id < {IR_N_QUERIES}),
scored AS (
  SELECT q.id AS query_id, c.id AS item_id, {cos_qc} AS score
  FROM q, emb c WHERE q.id <> c.id
),
ranked AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored QUALIFY rank <= {TOPK}
),
qrels AS (
  SELECT q.id AS query_id, c.id AS item_id
  FROM q JOIN emb c ON q.label = c.label AND q.id <> c.id
),
nrel AS (SELECT query_id, count(*) AS n_relevant FROM qrels GROUP BY 1),
hits AS (
  SELECT r.query_id, r.rank,
         row_number() OVER (PARTITION BY r.query_id ORDER BY r.rank)
           AS n_hits_so_far
  FROM ranked r JOIN qrels s
    ON r.query_id = s.query_id AND r.item_id = s.item_id
),
ap AS (
  SELECT query_id, sum(n_hits_so_far::DOUBLE / rank) AS sum_p
  FROM hits GROUP BY 1
)
SELECT q.id AS query_id,
       round(coalesce(a.sum_p, 0.0)
             / least(coalesce(n.n_relevant, 1), {TOPK}), 6) AS map_r
FROM q
LEFT JOIN ap a ON a.query_id = q.id
LEFT JOIN nrel n ON n.query_id = q.id""",

        "head_tail": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT id, e FROM emb WHERE id < {N_QUERIES}),
scored AS (
  SELECT q.id AS query_id, c.id AS item_id, {cos_qc} AS score
  FROM q, emb c WHERE q.id <> c.id
),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored QUALIFY rank <= {HEADTAIL_TAIL}
),
agg AS (
  SELECT query_id,
         avg(CASE WHEN rank <= {HEADTAIL_HEAD} THEN score END) AS head_mean,
         avg(CASE WHEN rank > {HEADTAIL_HEAD} THEN score END) AS tail_mean,
         stddev_samp(CASE WHEN rank > {HEADTAIL_HEAD} THEN score END) AS tail_std
  FROM ranked GROUP BY query_id
)
SELECT query_id, round(head_mean, 6) AS head_mean_r,
       round(tail_mean, 6) AS tail_mean_r,
       round(tail_std, 6) AS tail_std_r,
       round(tail_mean / head_mean, 6) AS tail_head_ratio_r
FROM agg""",

        "nearest_anchor": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT id, e FROM emb WHERE id < {N_QUERIES}),
d AS (
  SELECT q.id AS query_id, c.id AS item_id,
         list_distance(q.e, c.e) AS dist
  FROM q, emb c WHERE q.id <> c.id
),
ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, item_id ASC) AS rn
  FROM d
)
SELECT query_id, item_id AS anchor_id, round(dist, 6) AS dist_r
FROM ranked WHERE rn = 1""",

        "energy_diffusion": f"""
WITH {_sql_knn_edges_cte()},
bothdir AS MATERIALIZED (SELECT src, dst, weight FROM edges
            UNION ALL SELECT dst, src, weight FROM edges),
deg AS MATERIALIZED (SELECT src AS id, sum(weight) AS d FROM bothdir GROUP BY 1),
f0 AS MATERIALIZED (SELECT id, unnest(e) AS v, generate_subscripts(e,1) - 1 AS fi FROM emb),
n0 AS MATERIALIZED (
  SELECT e.dst AS id, f.fi, sum(e.weight * f.v) AS s
  FROM bothdir e JOIN f0 f ON f.id = e.src GROUP BY 1, 2),
d1 AS MATERIALIZED (
  SELECT f0.id, f0.fi,
         (1 - {DIFF_ETA} * coalesce(deg.d, 0)) * f0.v
         + {DIFF_ETA} * coalesce(n0.s, 0) AS v
  FROM f0 LEFT JOIN deg ON deg.id = f0.id
  LEFT JOIN n0 ON n0.id = f0.id AND n0.fi = f0.fi),
n1 AS MATERIALIZED (
  SELECT e.dst AS id, f.fi, sum(e.weight * f.v) AS s
  FROM bothdir e JOIN d1 f ON f.id = e.src GROUP BY 1, 2),
d2 AS MATERIALIZED (
  SELECT d1.id, d1.fi,
         (1 - {DIFF_ETA} * coalesce(deg.d, 0)) * d1.v
         + {DIFF_ETA} * coalesce(n1.s, 0) AS v
  FROM d1 LEFT JOIN deg ON deg.id = d1.id
  LEFT JOIN n1 ON n1.id = d1.id AND n1.fi = d1.fi)
SELECT id AS item_id, CAST(fi AS BIGINT) AS fi, round(v, 6) AS v_r FROM d2""",

        "conductance": f"""
WITH {_sql_knn_edges_cte()},
s AS (SELECT vec_id AS node FROM embeddings WHERE label = 0),
marked AS (
  SELECT e.weight,
         CASE WHEN a.node IS NOT NULL THEN 1 ELSE 0 END AS si,
         CASE WHEN b.node IS NOT NULL THEN 1 ELSE 0 END AS di
  FROM edges e
  LEFT JOIN s a ON a.node = e.src
  LEFT JOIN s b ON b.node = e.dst),
agg AS (
  SELECT sum(CASE WHEN si <> di THEN weight ELSE 0 END) AS cut,
         sum((si + di) * weight) AS vol_s,
         sum(2.0 * weight) AS vol_total
  FROM marked)
SELECT round(cut / least(vol_s, vol_total - vol_s), 6) AS conductance_r
FROM agg""",

        "modularity": f"""
WITH {_sql_knn_edges_cte()},
bothdir AS MATERIALIZED (SELECT src, dst, weight FROM edges
            UNION ALL SELECT dst, src, weight FROM edges),
comm AS (SELECT vec_id AS node, label AS community FROM embeddings),
m AS (SELECT sum(weight) AS m FROM edges),
inw AS (
  SELECT a.community, sum(e.weight) AS in_weight
  FROM edges e
  JOIN comm a ON a.node = e.src
  JOIN comm b ON b.node = e.dst AND b.community = a.community
  GROUP BY 1),
deg AS MATERIALIZED (
  SELECT c.community, sum(d.degree) AS deg_sum FROM
    (SELECT src AS node, sum(weight) AS degree FROM bothdir GROUP BY 1) d
  JOIN comm c ON c.node = d.node
  GROUP BY 1)
SELECT CAST(d.community AS BIGINT) AS community,
       round(coalesce(i.in_weight, 0.0), 6) AS in_weight_r,
       round(d.deg_sum, 6) AS deg_sum_r,
       round(coalesce(i.in_weight, 0.0) / (SELECT m FROM m)
             - pow(d.deg_sum / (2.0 * (SELECT m FROM m)), 2), 8) AS q_c_r
FROM deg d LEFT JOIN inw i ON i.community = d.community""",

        "label_propagation": f"""
WITH {_sql_knn_edges_cte()},
bothdir AS MATERIALIZED (SELECT src, dst, weight FROM edges
            UNION ALL SELECT dst, src, weight FROM edges),
{_sql_lpa_blocks()}
SELECT node, CAST(community AS BIGINT) AS community FROM lab{LPA_ITERS}""",

        "ppr": f"""
WITH {_sql_knn_edges_cte()},
bothdir AS MATERIALIZED (SELECT src, dst, weight FROM edges
            UNION ALL SELECT dst, src, weight FROM edges),
{_sql_ppr_blocks()}
SELECT source, node, round(ppr, 8) AS ppr_r FROM ppr{PPR_ITERS}""",

        "embedding_near_dups": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.id AS id_a, b.id AS id_b,
       round({_SQL_COS.format(a='a.e', b='b.e')}, 6) AS cos_r
FROM emb a JOIN emb b ON a.id < b.id
WHERE {_SQL_COS.format(a='a.e', b='b.e')} >= {NEARDUP_COS_T}""",

        # Video payloads are real 16-bit stereo WAVs sized by the doc
        # text: 44-byte header + 4 bytes per frame (see codecs.py).
        "media_frame_sample": f"""
SELECT doc_id AS media_id,
       unnest(generate_series(0, length(text) * 10,
                              {MEDIA_FRAME_MS}))::BIGINT AS frame_ms,
       (44 + 4 * length(text))::BIGINT AS payload_bytes
FROM documents WHERE doc_id % 3 = 2""",

        # The decoded feature stream is SQL-replayable because payloads
        # are real BMP/WAV containers whose sample content follows a
        # doc_id-seeded formula (multimodal/binary_ops.py): the oracle
        # regenerates the stream arithmetically and histograms it —
        # Spark must land on the identical values via the actual
        # encode -> header-parse -> decode round trip.
        "media_decode_features": f"""
WITH m AS (
  SELECT doc_id, doc_id % 3 AS k, length(text) AS L FROM documents),
n AS (
  SELECT doc_id, k,
         CASE k WHEN 0 THEN ((doc_id % 48 + 16) * (doc_id % 64 + 16) * 3)
                WHEN 1 THEN L ELSE 2 * L END AS cnt
  FROM m),
v AS (
  SELECT doc_id,
         CASE k WHEN 0 THEN (doc_id * 31 + i * 7) % 256
                WHEN 1 THEN (doc_id * 17 + i * 11) % 256
                ELSE ((doc_id * 13 + i * 5) % 65536) // 256 END AS val
  FROM (SELECT doc_id, k, unnest(range(0, cnt)) AS i FROM n)),
hist AS (
  SELECT doc_id,
         sum(CASE WHEN val // {256 // MEDIA_NF} = 0
                  THEN 1 ELSE 0 END)::DOUBLE / count(*) AS f0,
         sum(CASE WHEN val // {256 // MEDIA_NF} = {MEDIA_NF - 1}
                  THEN 1 ELSE 0 END)::DOUBLE / count(*) AS flast
  FROM v GROUP BY 1)
SELECT n.doc_id AS media_id,
       CASE n.k WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
       round(coalesce(h.f0, 0.0), 6) AS f0_r,
       round(coalesce(h.flast, 0.0), 6) AS f_last_r
FROM n LEFT JOIN hist h ON h.doc_id = n.doc_id""",

        "graph_sparsity": f"""
WITH {_sql_knn_edges_cte()},
n AS (SELECT count(*) AS n FROM emb),
ne AS (SELECT count(*) AS ne FROM edges)
SELECT (SELECT n FROM n)::BIGINT AS n_items,
       (SELECT ne FROM ne)::BIGINT AS n_edges,
       round(1.0 - 2.0 * (SELECT ne FROM ne)
             / pow((SELECT n FROM n), 2), 8) AS sparsity_r""",

        "intrinsic_dim": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
pair AS (SELECT a.id AS i, b.id AS j, list_distance(a.e, b.e) AS d
         FROM emb a, emb b WHERE a.id <> b.id),
rk AS (SELECT i, j, d,
       row_number() OVER (PARTITION BY i ORDER BY d ASC, j ASC) AS rn
       FROM pair),
two AS (SELECT i, max(CASE WHEN rn = 1 THEN d END) AS d1,
               max(CASE WHEN rn = 2 THEN d END) AS d2
        FROM rk WHERE rn <= 2 GROUP BY i),
mu AS (SELECT d2 / d1 AS mu FROM two WHERE d1 > 0),
est AS (SELECT count(*) AS n_used, count(*) / sum(ln(mu)) AS id FROM mu),
n AS (SELECT count(*) AS n FROM emb)
SELECT n_used::BIGINT AS n_used, round(id, 6) AS id_mle_r,
       greatest(2, least(
         CAST(ceil(sqrt((SELECT n FROM n) * greatest(id, 1.0))) AS BIGINT),
         greatest(2, (SELECT n FROM n) // 2)))::BIGINT AS auto_k
FROM est""",

        "suggest_params": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
pair AS (SELECT a.id AS i, b.id AS j, list_distance(a.e, b.e) AS d
         FROM emb a, emb b WHERE a.id <> b.id),
rk AS (SELECT i, j, d,
       row_number() OVER (PARTITION BY i ORDER BY d ASC, j ASC) AS rn
       FROM pair),
two AS (SELECT i, max(CASE WHEN rn = 1 THEN d END) AS d1,
               max(CASE WHEN rn = 2 THEN d END) AS d2
        FROM rk WHERE rn <= 2 GROUP BY i),
mu AS (SELECT d2 / d1 AS mu FROM two WHERE d1 > 0),
est AS (SELECT count(*) / sum(ln(mu)) AS id_mle FROM mu),
n AS (SELECT count(*) AS n FROM emb),
calc AS (
  SELECT (SELECT n FROM n) AS n, id_mle,
         greatest(1.0, round(id_mle, 0)) AS d,
         ln((SELECT n FROM n)) AS l
  FROM est)
SELECT n::BIGINT AS n, round(id_mle, 6) AS id_mle_r,
       CAST(d AS BIGINT) AS d_used,
       round(pow(l / n, 2.0 / (d + 2.0)), 6) AS eps_theory_r,
       round(pow(l / n, 1.0 / (d + 2.0)), 6) AS sigma_theory_r,
       round(pow(n / l, 1.0 / d), 6) AS s_n_r,
       CAST(round(2.0 * l, 0) AS BIGINT) AS k_rec
FROM calc""",

        "random_projection": _sql_random_projection(),

        "paired_ttest": f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT id, e FROM emb WHERE id < {IR_N_QUERIES}),
base AS (
  SELECT q.id AS query_id, c.id AS item_id,
         {_SQL_COS.format(a='q.e', b='c.e')} AS cos
  FROM q, emb c),
rk AS (SELECT query_id, item_id, cos,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, item_id ASC) AS rank
       FROM base QUALIFY rank <= {TOPK + 1}),
rr AS (SELECT query_id, cos,
       row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rank2
       FROM (SELECT * FROM rk WHERE query_id <> item_id)
       QUALIFY rank2 <= {TOPK}),
h AS (SELECT query_id, avg(cos) AS v FROM rr
      WHERE rank2 <= {TTEST_HEAD_K} GROUP BY 1),
t AS (SELECT query_id, avg(cos) AS v FROM rr
      WHERE rank2 > {TTEST_HEAD_K} GROUP BY 1),
d AS (SELECT h.v - t.v AS d FROM h JOIN t USING (query_id)),
stat AS (
  SELECT count(*)::BIGINT AS n, avg(d) AS mean_diff, stddev_samp(d) AS std_diff,
         avg(d) / (stddev_samp(d) / sqrt(count(*))) AS t_stat
  FROM d),
-- identical closed-form p-value as metrics.student_t_two_sided_p:
-- exact gamma-ratio fold + fixed-grid Simpson over [0, |t|]
pcalc AS (
  SELECT n, mean_diff, std_diff, t_stat,
    (SELECT CASE WHEN nu >= 2 THEN
        list_reduce(list_prepend(1.0/sqrt(pi()),
                    list_transform(range(2, CAST(nu AS INT) + 1),
                                   i -> CAST(i AS DOUBLE))),
                    (a, b) -> ((b - 1.0) / 2.0) / a)
        ELSE 1.0/sqrt(pi()) END
     FROM (SELECT n - 1 AS nu)) AS gamma_ratio
  FROM stat),
pval AS (
  SELECT n, mean_diff, std_diff, t_stat,
    1.0 - 2.0 * (
      SELECT sum(CASE WHEN i = 0 OR i = {M.T_SIMPSON_M} THEN 1.0
                      WHEN i % 2 = 1 THEN 4.0 ELSE 2.0 END
                 * (gamma_ratio / sqrt((n - 1) * pi()))
                 * pow(1.0 + pow(i * abs(t_stat) / {M.T_SIMPSON_M}, 2)
                               / (n - 1),
                       -(n - 1 + 1.0) / 2.0))
      FROM range(0, {M.T_SIMPSON_M} + 1) AS r(i)
    ) * (abs(t_stat) / {M.T_SIMPSON_M}) / 3.0 AS p
  FROM pcalc)
SELECT n, round(mean_diff, 6) AS mean_diff_r,
       round(std_diff, 6) AS std_diff_r,
       round(t_stat, 6) AS t_stat_r,
       round(greatest(least(p, 1.0), 0.0), 9) AS p_value_r
FROM pval""",
    }
    # hybrid is pinned == lambda-aware (G6 spec gap, SURVEY §2.11):
    # same inputs, same SQL twin.
    d["search_hybrid"] = d["lambda_search"]
    d["topology_metrics"] = _sql_topology_metrics()

    # ivf_ann_topk intentionally absent: KMeans centroids are
    # deterministic under seed but not SQL-expressible — rows-only.
    _langs = list(T.LANGS)
    _prof_cols = []
    for g in _langs:
        lit = "[" + ", ".join(f"'{b}'" for b in T.LANG_PROFILES[g]) + "]"
        _prof_cols.append(
            f"round(CASE WHEN len(bg) > 0 THEN "
            f"len(list_filter(bg, x -> list_contains({lit}, x)))::DOUBLE "
            f"/ len(bg) ELSE 0.0 END, 6) AS score_{g}_r")
    _score_arr = ("[" + ", ".join(
        f"CASE WHEN len(bg) > 0 THEN "
        f"len(list_filter(bg, x -> list_contains("
        + "[" + ", ".join(f"'{b}'" for b in T.LANG_PROFILES[g]) + "]"
        + ", x)))::DOUBLE / len(bg) ELSE 0.0 END"
        for g in _langs) + "]")
    _lang_arr = "[" + ", ".join(f"'{g}'" for g in _langs) + "]"
    d["lang_id"] = f"""
WITH bgs AS (
  SELECT doc_id, lang,
         CASE WHEN length(lower(text)) >= 2 THEN
           list_transform(range(1, length(lower(text))),
                          i -> substr(lower(text), i, 2))
         ELSE [] END AS bg
  FROM documents)
SELECT doc_id, lang, {', '.join(_prof_cols)},
       {_lang_arr}[list_position({_score_arr},
                                 list_max({_score_arr}))] AS predicted
FROM bgs"""

    import math as _math
    _idcg_ref = sum((TOPK - i + 1) / _math.log2(i + 1)
                    for i in range(1, TOPK + 1))

    _tau_blocks = []
    for _t in TAU_SWEEP:
        _tau_blocks.append(f"""
SELECT {float(_t)!r} AS tau, round(avg(ndcg), 6) AS avg_ndcg_r FROM (
  SELECT l.query_id,
         sum(coalesce({TOPK} - c.rank + 1, 0) / log2(l.rank + 1))
           / {_idcg_ref!r} AS ndcg
  FROM (
    SELECT query_id, item_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, item_id ASC) AS rank
    FROM (
      SELECT q.qid AS query_id, c.id AS item_id,
             {float(_t)!r} * {_SQL_COS.format(a='q.e', b='c.e')}
             + (1 - {float(_t)!r}) * (1.0 / (1.0 + abs(
                 ({float(_t)!r} * (lq.e_raw / (lq.e_raw + {float(_t)!r}))
                  + (1 - {float(_t)!r}) * lq.g)
               - ({float(_t)!r} * (lx.e_raw / (lx.e_raw + {float(_t)!r}))
                  + (1 - {float(_t)!r}) * lx.g)))) AS score
      FROM q JOIN comp lq ON lq.kind = 'q' AND lq.id = q.qid
      CROSS JOIN emb c
      JOIN comp lx ON lx.kind = 'i' AND lx.id = c.id)
    QUALIFY rank <= {TOPK}) l
  LEFT JOIN (
    SELECT query_id, item_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, item_id ASC) AS rank
    FROM (
      SELECT q.qid AS query_id, c.id AS item_id,
             {_SQL_COS.format(a='q.e', b='c.e')} AS cos
      FROM q CROSS JOIN emb c)
    QUALIFY rank <= {TOPK}) c
    ON c.query_id = l.query_id AND c.item_id = l.item_id
  GROUP BY l.query_id)""")
    d["tau_sweep"] = f"""
WITH {_sql_lambda_cte()},
comp AS (
  SELECT e.kind, e.id, e.e_raw, g.g
  FROM eraw e JOIN gval g ON g.kind = e.kind AND g.id = e.id)
{' UNION ALL '.join(_tau_blocks)}"""

    _cc_blocks = ["""
pairs AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN counts ca ON i.id_a = ca.doc_id
  JOIN counts cb ON i.id_b = cb.doc_id
  WHERE i.n_inter::DOUBLE / (ca.n_sh + cb.n_sh - i.n_inter) >= {t}),
bothp AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
cc0 AS (SELECT DISTINCT src AS node, src AS component FROM bothp)""".format(
        t=JACCARD_T)]
    for _i in range(CC_ITERS):
        _cc_blocks.append(f"""
cc{_i + 1} AS (
  SELECT node, min(component) AS component FROM (
    SELECT b.dst AS node, l.component
    FROM bothp b JOIN cc{_i} l ON l.node = b.src
    UNION ALL SELECT node, component FROM cc{_i}
  ) GROUP BY node)""")
    d["dup_components"] = f"""
WITH {_sql_shingles_cte()},
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
{','.join(_cc_blocks)}
SELECT node, CAST(component AS BIGINT) AS component FROM cc{CC_ITERS}"""

    _toks_kl = _SQL_TOKENS.format(t="text")
    d["dedup_keeplist"] = f"""
WITH {_sql_shingles_cte()},
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
{','.join(_cc_blocks)},
fpt AS (
  SELECT doc_id, array_to_string({_toks_kl}, ' ') AS norm FROM documents),
fp AS (SELECT doc_id, {_sql_hash60('norm')} AS fingerprint FROM fpt),
fp_keep AS (SELECT fingerprint, min(doc_id) AS keep_id
            FROM fp GROUP BY 1),
exact_ok AS (
  SELECT fp.doc_id, fp.doc_id = k.keep_id AS exact_keep
  FROM fp JOIN fp_keep k USING (fingerprint)),
near AS (SELECT node, node = component AS near_keep FROM cc{CC_ITERS})
SELECT e.doc_id, e.exact_keep AND coalesce(n.near_keep, TRUE) AS keep
FROM exact_ok e LEFT JOIN near n ON n.node = e.doc_id"""

    _eps_blocks = []
    for _e in EPS_SWEEP:
        _eps_blocks.append(f"""
SELECT {float(_e)!r} AS eps,
       count(*)::BIGINT AS n_edges,
       round(2.0 * count(*) / (SELECT count(*) FROM emb), 6) AS avg_degree_r,
       round(1.0 - 2.0 * count(*) / pow((SELECT count(*) FROM emb), 2), 8)
         AS sparsity_r
FROM (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY dist ASC, dst ASC) AS rn
    FROM cand WHERE dist <= {float(_e)!r})
  WHERE rn <= {KNN_K})""")
    _cos_ab = _SQL_COS.format(a="a.e", b="b.e")
    d["eps_sweep"] = f"""
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
cand AS MATERIALIZED (
  SELECT a.id AS src, b.id AS dst,
         1.0 - greatest({_cos_ab}, 0.0) AS dist
  FROM emb a, emb b WHERE a.id <> b.id)
{' UNION ALL '.join(_eps_blocks)}"""

    _toksq = _SQL_TOKENS.format(t="text")
    _cc2_blocks = []
    for _i in range(CC_ITERS):
        _cc2_blocks.append(f"""
cc{_i + 1} AS (
  SELECT node, min(component) AS component FROM (
    SELECT b.dst AS node, l.component
    FROM bothp b JOIN cc{_i} l ON l.node = b.src
    UNION ALL SELECT node, component FROM cc{_i}
  ) GROUP BY node)""")
    d["clean_corpus"] = f"""
WITH t AS (
  SELECT doc_id, text, lang, lower(text) AS low, {_toksq} AS tk
  FROM documents),
stats AS (
  SELECT doc_id, lang, text, tk, len(tk) AS n_tokens,
         CASE WHEN length(low) > 0
              THEN length(regexp_replace(low, '[a-z0-9 ]', '', 'g'))::DOUBLE
                   / length(low) ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(tk) > 0
              THEN len(list_filter(tk, x -> list_contains({_SQL_STOPWORDS}, x)))::DOUBLE
                   / len(tk) ELSE 0.0 END AS stopword_ratio,
         array_to_string(tk, ' ') AS norm
  FROM t),
q AS (
  SELECT *, 0.4 * least(1.0, n_tokens / 100.0)
            + 0.3 * (1.0 - punct_ratio)
            + 0.3 * (1.0 - abs(stopword_ratio - 0.4)) AS quality,
         {_sql_hash60('norm')} AS fingerprint
  FROM stats),
keep1 AS MATERIALIZED (
  SELECT * FROM q WHERE doc_id IN (
    SELECT min(doc_id) FROM q GROUP BY fingerprint)),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(tk) - {JACCARD_N - 1}, 0) + 1),
                i -> array_to_string(tk[i : i + {JACCARD_N - 1}], ' '))) AS shingle
  FROM keep1 WHERE len(tk) >= {JACCARD_N}),
sh AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM sh_raw),
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
pairs AS MATERIALIZED (
  SELECT i.id_a, i.id_b FROM inter i
  JOIN counts ca ON i.id_a = ca.doc_id
  JOIN counts cb ON i.id_b = cb.doc_id
  WHERE i.n_inter::DOUBLE / (ca.n_sh + cb.n_sh - i.n_inter) >= {JACCARD_T}),
bothp AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
cc0 AS (SELECT DISTINCT src AS node, src AS component FROM bothp),
{','.join(_cc2_blocks)},
losers AS (SELECT node AS doc_id FROM cc{CC_ITERS} WHERE node <> component),
clean AS (
  SELECT * FROM keep1
  WHERE doc_id NOT IN (SELECT doc_id FROM losers) AND quality >= {QUALITY_MIN})
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens,
       round(avg(quality), 6) AS avg_quality_r
FROM clean GROUP BY lang"""

    _toks = _SQL_TOKENS.format(t="text")
    d["shard_by_tokens"] = f"""
WITH counted AS (
  SELECT doc_id, len({_toks}) AS n_tokens FROM documents)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / {SHARD_TOKENS}) AS BIGINT) AS shard
FROM counted"""

    d["magnitude_report"] = """
WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT id, sqrt(list_dot_product(e, e)) AS nrm,
             len(list_filter(e, x -> isnan(x) OR NOT isfinite(x))) AS bad
      FROM emb)
SELECT count(*)::BIGINT AS n_items,
       round(min(nrm), 6) AS min_norm_r,
       round(avg(nrm), 6) AS avg_norm_r,
       round(max(nrm), 6) AS max_norm_r,
       sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_vectors,
       sum(CASE WHEN bad > 0 THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite
FROM n"""
    d["ndcg_vs_reference"] = f"""
WITH {_sql_lambda_cte()},
lam AS MATERIALIZED (
  SELECT e.kind, e.id,
         {LAMBDA_TAU} * (e.e_raw / (e.e_raw + {LAMBDA_TAU}))
         + (1 - {LAMBDA_TAU}) * g.g AS lam
  FROM eraw e JOIN gval g ON g.kind = e.kind AND g.id = e.id),
scored AS (
  SELECT q.qid AS query_id, c.id AS item_id,
         {_SQL_COS.format(a='q.e', b='c.e')} AS cos,
         {LAMBDA_TAU} * {_SQL_COS.format(a='q.e', b='c.e')}
         + (1 - {LAMBDA_TAU}) * (1.0 / (1.0 + abs(lq.lam - lx.lam))) AS score
  FROM q JOIN lam lq ON lq.kind = 'q' AND lq.id = q.qid
  CROSS JOIN emb c
  JOIN lam lx ON lx.kind = 'i' AND lx.id = c.id),
lam_rank AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id ASC) AS rank
  FROM scored QUALIFY rank <= {TOPK}),
cos_rank AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, item_id ASC) AS rank
  FROM scored QUALIFY rank <= {TOPK})
SELECT l.query_id,
       round(sum(coalesce({TOPK} - c.rank + 1, 0)
                 / log2(l.rank + 1)) / {_idcg_ref!r}, 6) AS ndcg_r
FROM lam_rank l
LEFT JOIN cos_rank c ON c.query_id = l.query_id AND c.item_id = l.item_id
GROUP BY l.query_id"""

    d["json_corpus_roundtrip"] = f"""
WITH rec AS (
  SELECT 2000 + doc_id % 26 AS year,
         'CVE-' || (2000 + doc_id % 26)::VARCHAR || '-'
           || lpad(doc_id::VARCHAR, 6, '0') AS cve_id,
         substr(text, 1, 40) AS title,
         text, lang,
         round(n_chars / 100.0, 2) AS score
  FROM documents)
SELECT cve_id, title,
       concat_ws(' | ', title, text, upper(substr(text, 1, 20)),
                 printf('%.2f', score)) AS flat_text,
       round(score, 2) AS score_r
FROM rec WHERE year BETWEEN {CVE_YEAR_START} AND {CVE_YEAR_END}"""

    d["csv_metrics_roundtrip"] = f"""
WITH t AS (
  SELECT doc_id, lang, lower(text) AS low,
         {_SQL_TOKENS.format(t='text')} AS tk
  FROM documents),
stats AS (
  SELECT doc_id, lang, len(tk) AS n_tokens,
         round(CASE WHEN length(low) > 0
               THEN length(regexp_replace(low, '[a-z0-9 ]', '', 'g'))::DOUBLE
                    / length(low)
               ELSE 0.0 END, 6) AS punct_ratio
  FROM t)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       round(avg(punct_ratio), 6) AS avg_punct_r
FROM stats GROUP BY lang"""

    # --- build_diagnostics: melt the diagnostic SQL bodies (plus the
    # AUTO_PARAMS_SQL calibration replay) into one long-format
    # (section, metric, value) union — the oracle twin
    # of q_build_diagnostics. The standalone SQL strings are consumed
    # (popped) because the catalog no longer exposes them separately;
    # search_hybrid's row is likewise retired (pinned == lambda_search,
    # one oracle row cannot distinguish them).
    _lbl_eps = ("CASE " + " ".join(
        f"WHEN eps = {float(_e)!r} THEN '{_e:g}'" for _e in EPS_SWEEP)
        + " END")
    _lbl_tau = ("CASE " + " ".join(
        f"WHEN tau = {float(_t)!r} THEN '{_t:g}'" for _t in TAU_SWEEP)
        + " END")
    # diffuse_plan twin constants: the env-backed driver-tier budget
    # and diffusion's N×F copy count that energy.diffuse_plan prices
    # with, resolved at oracle-build time (the driver compares Spark
    # and SQL in ONE process, so both sides see the same environment).
    from pyarrowspace_spark.functions import matrix as _MX

    _dp_budget = int(_MX.DRIVER_BUDGET_BYTES)
    _dp_copies = int(_MX.DIFFUSE_X_COPIES)
    # lsh_plan twin constants: the design constants are embedded so the
    # SQL replays knn.lsh_plan exactly
    from pyarrowspace_spark.operators import knn as _KNN

    _lp_budget = int(_KNN.LSH_GROUP_BYTES)
    _lp_row_b = int(_KNN.LSH_ROW_BYTES)
    _lp_k = int(KNN_K)
    _lp_spool_b = float(_KNN.LSH_PAIR_SPOOL_BYTES)
    _lp_miss = float(_KNN.LSH_MISS_BUDGET)
    _lp_coll = float(_KNN.LSH_DESIGN_COLLISION)
    _gs_sql = d.pop("graph_sparsity")
    d["build_diagnostics"] = f"""
SELECT 'graph_sparsity' AS section,
       unnest(['n_items', 'n_edges', 'sparsity']) AS metric,
       unnest([n_items::DOUBLE, n_edges::DOUBLE, sparsity_r]) AS value
FROM ({_gs_sql})
UNION ALL
SELECT 'intrinsic_dim', unnest(['n_used', 'id_mle', 'auto_k']),
       unnest([n_used::DOUBLE, id_mle_r, auto_k::DOUBLE])
FROM ({d.pop('intrinsic_dim')})
UNION ALL
SELECT 'suggest_params',
       unnest(['n', 'id_mle', 'd_used', 'eps_theory', 'sigma_theory',
               's_n', 'k_rec']),
       unnest([n::DOUBLE, id_mle_r, d_used::DOUBLE, eps_theory_r,
               sigma_theory_r, s_n_r, k_rec::DOUBLE])
FROM ({d.pop('suggest_params')})
UNION ALL
SELECT 'magnitude_report',
       unnest(['n_items', 'min_norm', 'avg_norm', 'max_norm',
               'n_zero_vectors', 'n_nonfinite']),
       unnest([n_items::DOUBLE, min_norm_r, avg_norm_r, max_norm_r,
               n_zero_vectors::DOUBLE, n_nonfinite::DOUBLE])
FROM ({d.pop('magnitude_report')})
UNION ALL
SELECT 'eps_sweep',
       unnest(['n_edges@' || lbl, 'avg_degree@' || lbl,
               'sparsity@' || lbl]),
       unnest([n_edges::DOUBLE, avg_degree_r, sparsity_r])
FROM (SELECT *, {_lbl_eps} AS lbl FROM ({d.pop('eps_sweep')}))
UNION ALL
SELECT 'tau_sweep', unnest(['avg_ndcg@' || lbl]), unnest([avg_ndcg_r])
FROM (SELECT *, {_lbl_tau} AS lbl FROM ({d.pop('tau_sweep')}))
UNION ALL
SELECT 'auto_params',
       unnest(['n', 'k', 'eps_raw', 'eps', 'k_applied', 'eps_applied']),
       unnest([n::DOUBLE, k::DOUBLE, eps_raw_r, eps_r,
               k::DOUBLE, eps_r])
FROM ({AUTO_PARAMS_SQL})
UNION ALL
SELECT 'diffuse_plan', 'distributed_tier',
       (CASE WHEN {_dp_copies} * n_items * nf * 8 + 384 * n_edges
                  <= {_dp_budget}
             THEN 0.0
             ELSE 1.0 END)::DOUBLE
FROM (SELECT g.*, (SELECT len(embedding) FROM embeddings LIMIT 1) AS nf
      FROM ({_gs_sql}) g)
UNION ALL
SELECT 'lsh_plan',
       unnest(['n_bits', 'n_bands', 'n_band_groups',
               'band_shuffle_bytes', 'spool_group_bytes']),
       unnest([bits, bands,
               ceil(bands / ceil(bands / least(bands, greatest(1.0,
                    ceil(n_items * bands * {_lp_row_b}
                         / {_lp_budget}))))),
               n_items * {_lp_row_b},
               n_items * {_lp_k} * {_lp_spool_b!r}])
FROM (SELECT *, greatest(16.0, ceil({_lp_miss!r}
             / -ln(1.0 - pow({_lp_coll!r}, bits)))) AS bands
      FROM (SELECT n_items::DOUBLE AS n_items,
                   least(20.0, greatest(6.0, round(log2(
                       greatest(n_items / 256.0, 2.0))))) AS bits
            FROM ({_gs_sql})))"""
    d.pop("search_hybrid")
    return d
