"""Topology-weighted IR metric suite (SURVEY §2.8 M8-M9).

Reference semantics (tests/test_6_beir_new_score.py):
- topology factor per rank i over the PREFIX set {results[:i+1]}
  (:306-325): T_i = 0.4·PPR(node_i) + 0.3·(1−conductance(prefix)) +
  0.3·max_community_share(prefix); weights :52 LAMBDA_WEIGHTS.
- G-RBP (:330-337), TD-nDCG (:339-352), IT-ERR (:354-365),
  MRR-Topo (:367-380), SQI (:382-395, MU weights :53).

Deviations pinned by our own fixtures (SURVEY §7.3 #5): PPR is the
engine's fixed-iteration power method (deterministic) instead of
networkx's converged pagerank; communities come from deterministic
weighted LPA instead of greedy modularity; missing nodes keep the
reference's conventions (ppr→0, community→−1, empty-volume
conductance→1).

Scale notes: everything is join + window + explode-of-≤k rows per
ranked item — one shuffle per stage on query_id, no driver loops, no
UDFs. The prefix recompute is O(k) per result row (same asymptotic
cost profile as the reference harness, SURVEY §2.8 M9).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .knn import degrees

W_PPR, W_COND, W_MOD = 0.4, 0.3, 0.3          # LAMBDA_WEIGHTS :52
MU_COND, MU_MOD, MU_PPR = 0.4, 0.3, 0.3       # MU_WEIGHTS :53


def prefix_conductance(edges: DataFrame, rankings: DataFrame,
                       k: int) -> DataFrame:
    """Conductance of each rank-prefix S_d (d = 1..k) per query.

    An edge (u,v) crosses the S_d boundary iff exactly one endpoint has
    rank ≤ d, i.e. for d ∈ [rmin, min(rmax−1, k)] — exploded with
    `sequence` (≤ k rows per edge-query pair). Volume is a rank-ordered
    cumulative sum of weighted degrees. Returns [query_id, d, cond].
    """
    kk = int(k)
    r_s = rankings.select("query_id", F.col("item_id").alias("src"),
                          F.col("rank").alias("rank_s"))
    r_d = rankings.select("query_id", F.col("item_id").alias("dst"),
                          F.col("rank").alias("rank_d"))
    es = edges.join(r_s, "src").select("query_id", "src", "dst", "weight",
                                       "rank_s")
    ed = edges.join(r_d, "dst").select("query_id", "src", "dst", "weight",
                                       "rank_d")
    touched = (
        es.join(ed, ["query_id", "src", "dst", "weight"], "outer")
        .withColumn("rmin", F.least(F.coalesce("rank_s", F.lit(kk + 1)),
                                    F.coalesce("rank_d", F.lit(kk + 1))))
        .withColumn("rmax", F.greatest(F.coalesce("rank_s", F.lit(kk + 1)),
                                       F.coalesce("rank_d", F.lit(kk + 1))))
        .filter((F.col("rmin") <= kk) & (F.col("rmax") > F.col("rmin")))
    )
    cut = (
        touched.select(
            "query_id", "weight",
            F.explode(F.sequence(
                "rmin", F.least(F.col("rmax") - 1, F.lit(kk)))).alias("d"),
        )
        .groupBy("query_id", "d").agg(F.sum("weight").alias("cut"))
    )

    deg = degrees(edges)
    vol_total = edges.agg((2.0 * F.sum("weight")).alias("v")).collect()[0]["v"]
    w = (Window.partitionBy("query_id").orderBy("rank")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vol = (
        rankings.join(deg, rankings["item_id"] == deg["node"], "left")
        .select("query_id", "rank",
                F.coalesce("degree", F.lit(0.0)).alias("degree"))
        .withColumn("vol_s", F.sum("degree").over(w))
        .select("query_id", F.col("rank").alias("d"), "vol_s")
    )
    min_vol = F.least(F.col("vol_s"), F.lit(float(vol_total)) - F.col("vol_s"))
    return (
        vol.join(cut, ["query_id", "d"], "left")
        .select(
            "query_id", "d",
            F.when(min_vol <= 0.0, F.lit(1.0))
            .otherwise(F.coalesce("cut", F.lit(0.0)) / min_vol)
            .alias("cond"),
        )
    )


def prefix_max_share(rankings: DataFrame, communities: DataFrame,
                     k: int) -> DataFrame:
    """Max community share of each rank-prefix: item at rank r belongs
    to every prefix d ≥ r (explode ≤ k rows). Unlabeled nodes share the
    reference's sentinel community −1. Returns [query_id, d, max_share]."""
    kk = int(k)
    labeled = (
        rankings.join(communities,
                      rankings["item_id"] == communities["node"], "left")
        .select("query_id", "rank",
                F.coalesce("community", F.lit(-1)).alias("community"))
    )
    exploded = labeled.select(
        "query_id", "community",
        F.explode(F.sequence("rank", F.lit(kk))).alias("d"))
    counts = exploded.groupBy("query_id", "d", "community").agg(
        F.count("*").alias("n"))
    return counts.groupBy("query_id", "d").agg(
        (F.max("n") / F.col("d")).alias("max_share"))


def topology_factor_prefix(
    rankings: DataFrame,
    ppr: DataFrame,
    cond_prefix: DataFrame,
    share_prefix: DataFrame,
) -> DataFrame:
    """T_i per (query, rank): joins full-graph PPR at the ranked node
    with prefix conductance/modularity at d = rank.
    Returns [query_id, item_id, rank, t_factor]."""
    p = ppr.select(F.col("source").alias("query_id"),
                   F.col("node").alias("item_id"), "ppr")
    # cond/share derive from `rankings` — rename keys to avoid
    # self-join lineage ambiguity.
    cp = cond_prefix.select(F.col("query_id").alias("cq"),
                            F.col("d").alias("cd"), "cond")
    sp = share_prefix.select(F.col("query_id").alias("sq"),
                             F.col("d").alias("sd"), "max_share")
    return (
        rankings.join(p, ["query_id", "item_id"], "left")
        .join(cp, (F.col("query_id") == F.col("cq"))
              & (F.col("rank") == F.col("cd")))
        .join(sp, (F.col("query_id") == F.col("sq"))
              & (F.col("rank") == F.col("sd")))
        .select(
            "query_id", "item_id", "rank",
            (F.lit(W_PPR) * F.coalesce("ppr", F.lit(0.0))
             + F.lit(W_COND) * (F.lit(1.0) - F.col("cond"))
             + F.lit(W_MOD) * F.col("max_share")).alias("t_factor"),
        )
    )


def _idcg_binary_lut(k: int) -> list[float]:
    acc, out = 0.0, []
    for i in range(1, k + 1):
        acc += 1.0 / math.log2(i + 1)
        out.append(acc)
    return out


def graph_aware_metrics(
    ranked: DataFrame,
    k: int,
    p: float = 0.9,
    max_grade: int = 3,
) -> DataFrame:
    """G-RBP, TD-nDCG, IT-ERR, MRR-Topo per query from
    ranked = [query_id, item_id, rank, rel, t_factor] (rank 1..k).

    All four are single-pass window/agg expressions; the IT-ERR cascade
    product Π(1−R_T_j) is exp(Σ ln) over a rank-ordered frame.
    """
    kk = int(k)
    lut = F.array(*[F.lit(v) for v in _idcg_binary_lut(kk)])

    w_prev = (Window.partitionBy("query_id").orderBy("rank")
              .rowsBetween(Window.unboundedPreceding, -1))
    rt = F.col("rel") / F.lit(float(max_grade)) * F.col("t_factor")
    terms = ranked.withColumn(
        "not_stopped",
        F.exp(F.coalesce(F.sum(F.log(F.lit(1.0) - rt)).over(w_prev),
                         F.lit(0.0))),
    )

    agg = terms.groupBy("query_id").agg(
        F.sum(F.lit(1.0 - p) * F.col("rel")
              * F.pow(F.lit(p), F.col("rank") - 1)
              * F.col("t_factor")).alias("g_rbp"),
        F.sum((F.pow(F.lit(2.0), "rel") - 1.0) * F.col("t_factor")
              / F.log2(F.col("rank") + 1)).alias("td_dcg"),
        F.max("t_factor").alias("max_t"),
        F.sum((F.col("rel") > 0).cast("long")).alias("n_rel"),
        F.sum(F.col("not_stopped") * rt / F.col("rank")).alias("it_err"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("first_rel"),
    )
    first_t = ranked.select(F.col("query_id").alias("qf"), "rank",
                            F.col("t_factor").alias("t_at"))
    return (
        agg.join(first_t, (agg["query_id"] == first_t["qf"])
                 & (agg["first_rel"] == first_t["rank"]), "left")
        .select(
            "query_id", "g_rbp",
            F.when(F.col("n_rel") > 0,
                   F.col("td_dcg")
                   / (F.col("max_t") * F.element_at(lut, F.col("n_rel")
                                                    .cast("int"))))
            .otherwise(F.lit(0.0)).alias("td_ndcg"),
            "it_err",
            F.coalesce(F.col("t_at") / F.col("first_rel"), F.lit(0.0))
            .alias("mrr_topo"),
        )
    )


def sqi(
    rankings: DataFrame,
    ppr: DataFrame,
    cond_prefix: DataFrame,
    share_prefix: DataFrame,
    k: int,
) -> DataFrame:
    """Subgraph Quality Index over the full top-k set (reference :382):
    SQI = 0.4·(1−cond) + 0.3·max_share + 0.3·Σ PPR(top-k)."""
    kk = int(k)
    p = ppr.select(F.col("source").alias("query_id"),
                   F.col("node").alias("item_id"), "ppr")
    ppr_sum = (
        rankings.join(p, ["query_id", "item_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("ppr", F.lit(0.0))).alias("ppr_sum"))
    )
    sp = share_prefix.filter(F.col("d") == kk).select(
        F.col("query_id").alias("sq"), "max_share")
    return (
        cond_prefix.filter(F.col("d") == kk)
        .join(sp, F.col("query_id") == F.col("sq"))
        .join(ppr_sum, "query_id")
        .select(
            "query_id",
            (F.lit(MU_COND) * (F.lit(1.0) - F.col("cond"))
             + F.lit(MU_MOD) * F.col("max_share")
             + F.lit(MU_PPR) * F.col("ppr_sum")).alias("sqi"),
        )
    )
