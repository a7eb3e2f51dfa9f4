"""Graph-topology operators (SURVEY §2.7 G16-G20, §2.8 M8-M9).

All operate on the engine's canonical undirected weighted edge list
DataFrame[src, dst, weight] (one row per edge, src < dst) — the same
artifact the index build produces — so topology metrics run directly
on the λτ-graph without conversion. No GraphFrames dependency:
iterative ops are driver-bounded loops over edge joins with
localCheckpoint, the Pregel pattern expressed as dataflow.

Reference counterparts are NetworkX calls in the test harness
(tests/test_6_beir_new_score.py:240-325).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.matrix import both_directions
from .knn import degrees


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    alpha: float = 0.85,
    iters: int = 8,
) -> DataFrame:
    """PPR by fixed-iteration power method (reference
    tests/test_6_beir_new_score.py:268-280, α=0.85):

      pr_{t+1}(v) = (1-α)·[v = s] + α·Σ_u pr_t(u)·w_uv/deg_u

    All sources propagate simultaneously (source is a key column), so
    the per-iteration cost is one shuffle regardless of |sources|.
    Returns DataFrame[source, node, ppr].
    """
    spark = edges.sparkSession
    both = both_directions(edges)
    deg = degrees(edges)
    # persisted PRE-PARTITIONED on the per-iteration join key:
    # InMemoryRelation keeps outputPartitioning, so each power-method
    # step exchanges only the pr side — the E-row transition table
    # stays put (same hoist as the diffusion loop).
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    trans = both.join(deg, both["src"] == deg["node"]).select(
        "src", "dst", (F.col("weight") / F.col("degree")).alias("p")
    ).repartition(n_part, "src").persist()

    init = spark.createDataFrame(
        [(int(s), int(s), 1.0) for s in sources],
        schema="source long, node long, ppr double",
    )
    restart = spark.createDataFrame(
        [(int(s), int(s)) for s in sources], schema="source long, node long"
    ).withColumn("r", F.lit(1.0 - alpha))

    try:
        pr = init
        for _ in range(int(iters)):
            spread = (
                pr.join(trans, pr["node"] == trans["src"])
                .groupBy("source", F.col("dst").alias("node"))
                .agg((F.lit(alpha)
                      * F.sum(F.col("ppr") * F.col("p"))).alias("ppr"))
            )
            pr = (
                spread.join(restart, ["source", "node"], "outer")
                .select(
                    "source", "node",
                    (F.coalesce("ppr", F.lit(0.0))
                     + F.coalesce("r", F.lit(0.0))).alias("ppr"),
                )
            )
            pr = pr.localCheckpoint(eager=False)
        # eager final checkpoint → the result no longer depends on
        # trans, whose cache would otherwise be held for the session
        # lifetime
        return pr.localCheckpoint(eager=True)
    finally:
        # unpersist on error too, not just the success path
        trans.unpersist()


def conductance(edges: DataFrame, node_set: DataFrame,
                node_col: str = "node") -> float:
    """Conductance φ(S) = cut(S, V∖S) / min(vol(S), vol(V∖S))
    (reference tests/test_6_beir_new_score.py:282-292)."""
    s = node_set.select(F.col(node_col).alias("_n")).distinct()
    marked = (
        edges
        .join(s.withColumnRenamed("_n", "src").withColumn("_in_s", F.lit(1)),
              "src", "left")
        .withColumnRenamed("_in_s", "src_in")
        .join(s.withColumnRenamed("_n", "dst").withColumn("_in_s", F.lit(1)),
              "dst", "left")
        .withColumnRenamed("_in_s", "dst_in")
        .select(
            "weight",
            F.coalesce("src_in", F.lit(0)).alias("si"),
            F.coalesce("dst_in", F.lit(0)).alias("di"),
        )
    )
    agg = marked.agg(
        F.sum(F.when(F.col("si") != F.col("di"), F.col("weight"))
              .otherwise(F.lit(0.0))).alias("cut"),
        F.sum((F.col("si") + F.col("di")) * F.col("weight")).alias("vol_s"),
        F.sum(F.lit(2.0) * F.col("weight")).alias("vol_total"),
    ).collect()[0]
    cut, vol_s, vol_total = agg["cut"], agg["vol_s"], agg["vol_total"]
    denom = min(vol_s, vol_total - vol_s)
    return float(cut / denom) if denom > 0 else 0.0


def modularity(edges: DataFrame, communities: DataFrame,
               node_col: str = "node", comm_col: str = "community") -> DataFrame:
    """Per-community modularity terms Q_c = in_c/m − (deg_c/(2m))²
    (sum over c = standard weighted modularity). Returns
    DataFrame[community, q_c, in_weight, deg_sum]."""
    comm = communities.select(F.col(node_col).alias("_n"),
                              F.col(comm_col).alias("_c"))
    e = (
        edges
        .join(comm.withColumnRenamed("_n", "src")
              .withColumnRenamed("_c", "c_src"), "src")
        .join(comm.withColumnRenamed("_n", "dst")
              .withColumnRenamed("_c", "c_dst"), "dst")
    )
    m = edges.agg(F.sum("weight")).collect()[0][0]
    in_w = (
        e.filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.sum("weight").alias("in_weight"))
    )
    deg = degrees(edges).join(
        comm.withColumnRenamed("_n", "node"), "node"
    ).groupBy(F.col("_c").alias("community")).agg(
        F.sum("degree").alias("deg_sum")
    )
    return deg.join(in_w, "community", "left").select(
        "community",
        F.coalesce("in_weight", F.lit(0.0)).alias("in_weight"),
        "deg_sum",
        (F.coalesce("in_weight", F.lit(0.0)) / F.lit(m)
         - F.pow(F.col("deg_sum") / F.lit(2.0 * m), F.lit(2.0))).alias("q_c"),
    )


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous weighted label propagation — the DISTRIBUTED
    community path (G17). The reference's exact algorithm family is
    `greedy_modularity_communities` below (driver-side CNM, round 4);
    LPA remains the 100 TB default because CNM is inherently
    sequential. `communities()` dispatches between them.

    Init: community = node id. Step: each node adopts the community
    with the largest incident weight sum; ties break to the SMALLEST
    community id (total order → deterministic under any shuffle).
    Returns DataFrame[node, community].
    """
    # pre-partitioned on the per-iteration join key, dropped after the
    # eager final checkpoint (same pattern as personalized_pagerank)
    n_part = int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    both = both_directions(edges).repartition(n_part, "src").persist()
    try:
        labels = both.select(
            F.col("src").alias("node")).distinct().withColumn(
            "community", F.col("node")
        )
        for _ in range(int(iters)):
            votes = (
                both.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"), "community")
                .agg(F.sum("weight").alias("w"))
            )
            w = Window.partitionBy("node").orderBy(
                F.col("w").desc(), F.col("community").asc()
            )
            new_labels = (
                votes.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("node", "community")
            )
            # isolated nodes keep their community
            labels = (
                labels.join(
                    new_labels.withColumnRenamed("community", "_new"),
                    "node", "left")
                .select("node",
                        F.coalesce("_new", "community").alias("community"))
                .localCheckpoint(eager=False)
            )
        return labels.localCheckpoint(eager=True)
    finally:
        # unpersist on error too, not just the success path
        both.unpersist()


def greedy_modularity_communities(
    edges: DataFrame, max_nodes: int = 100_000
) -> DataFrame:
    """Weighted Clauset-Newman-Moore greedy modularity maximization —
    the reference's exact algorithm family
    (networkx greedy_modularity_communities,
    tests/test_6_beir_new_score.py:256-263; CNM 2004, public math).

    Start with singleton communities; repeatedly merge the connected
    pair with the largest modularity gain
    ΔQ(i,j) = 2·(e_ij/(2m) − a_i·a_j) while any gain is positive.
    Ties break to the smallest (i,j) pair → fully deterministic.

    CNM is inherently sequential, so it runs driver-side on the
    collected edge list (exactly how the reference runs NetworkX on its
    harness graphs) behind a hard `max_nodes` guard — checked with a
    DISTRIBUTED count BEFORE any collect, so an oversized graph raises
    without materializing millions of Row objects on the driver. The
    merge loop uses the classic CNM max-heap of candidate gains (lazy
    invalidation), O(m log m)-ish, so max_nodes bounds wall-clock too,
    not just memory. The distributed `label_propagation` remains the
    100 TB-scale path, and Q(greedy) ≥ Q(LPA) is pinned by a fixture
    test. Returns DataFrame[node, community] with community = min
    member node id.
    """
    import heapq

    spark = edges.sparkSession
    n_nodes = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct().count()
    )
    if n_nodes > max_nodes:
        raise ValueError(
            f"greedy modularity is a driver-side algorithm; graph has "
            f"{n_nodes} nodes > max_nodes={max_nodes}. Use "
            f"label_propagation for distributed community detection."
        )
    rows = edges.select("src", "dst", "weight").collect()
    nodes = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    two_m = 2.0 * sum(r["weight"] for r in rows)
    if two_m <= 0:
        return spark.createDataFrame(
            [(int(n), int(n)) for n in nodes], "node long, community long")
    # community state: adjacency between communities, degree sums
    members: dict[int, list[int]] = {n: [n] for n in nodes}
    a = {n: 0.0 for n in nodes}          # Σdeg/(2m) per community
    e: dict[int, dict[int, float]] = {n: {} for n in nodes}
    for r in rows:
        s, d, w = r["src"], r["dst"], r["weight"]
        a[s] += w / two_m
        a[d] += w / two_m
        if s != d:
            e[s][d] = e[s].get(d, 0.0) + w / two_m
            e[d][s] = e[d].get(s, 0.0) + w / two_m

    def _dq(i: int, j: int) -> float:
        return 2.0 * (e[i][j] - a[i] * a[j])

    # Max-heap of (-gain, i, j) with lazy deletion: an entry is valid
    # iff both communities still exist and its gain equals the CURRENT
    # gain (stale entries from pre-merge states are discarded on pop).
    # heapq's tuple order gives the deterministic tie-break for free:
    # equal gains pop in (i, j) ascending order.
    heap = [(-_dq(i, j), i, j) for i in e for j in e[i] if i < j]
    heapq.heapify(heap)
    while heap:
        neg_dq, i, j = heapq.heappop(heap)
        if i not in e or j not in e or j not in e[i]:
            continue  # community merged away
        if -neg_dq != _dq(i, j):
            continue  # stale gain from a previous state
        if -neg_dq <= 1e-12:
            break
        # merge j into i
        for k, w_jk in e[j].items():
            if k == i:
                continue
            e[i][k] = e[i].get(k, 0.0) + w_jk
            e[k][i] = e[k].get(i, 0.0) + w_jk
            del e[k][j]
        e[i].pop(j, None)
        del e[j]
        a[i] += a[j]
        del a[j]
        members[i].extend(members[j])
        del members[j]
        for k in e[i]:
            lo, hi = (i, k) if i < k else (k, i)
            heapq.heappush(heap, (-_dq(lo, hi), lo, hi))
    out = []
    for root, ms in members.items():
        label = min(ms)
        for n in ms:
            out.append((int(n), int(label)))
    return spark.createDataFrame(sorted(out), "node long, community long")


def communities(edges: DataFrame, method: str = "lpa",
                iters: int = 4, max_nodes: int = 100_000) -> DataFrame:
    """Community detection dispatcher (SURVEY §2 G17): 'greedy' = the
    reference's CNM greedy-modularity family (driver-side, bounded);
    'lpa' = distributed weighted label propagation (the 100 TB path).
    Both return DataFrame[node, community]."""
    if method == "greedy":
        return greedy_modularity_communities(edges, max_nodes=max_nodes)
    if method == "lpa":
        return label_propagation(edges, iters=iters)
    raise ValueError(f"unknown community method {method!r}")


def community_share(result_set: DataFrame, communities: DataFrame,
                    node_col: str = "node") -> DataFrame:
    """Max community share of a per-query result set (reference
    modularity-delta metric, tests/test_6_beir_new_score.py:294-304).
    result_set: DataFrame[query_id, node]. Returns
    DataFrame[query_id, max_share]."""
    joined = result_set.join(
        communities.withColumnRenamed("node", node_col), node_col
    )
    per_comm = joined.groupBy("query_id", "community").agg(
        F.count("*").alias("n")
    )
    tot = joined.groupBy("query_id").agg(F.count("*").alias("tot"))
    return (
        per_comm.join(tot, "query_id")
        .groupBy("query_id")
        .agg(F.max(F.col("n") / F.col("tot")).alias("max_share"))
    )


def topology_factor(
    ppr: DataFrame,
    conductance_value: float,
    max_share: DataFrame,
) -> DataFrame:
    """T_i = 0.4·PPR + 0.3·(1−conductance) + 0.3·modularity_share
    (reference tests/test_6_beir_new_score.py:306-325, weights :52-53).
    ppr: [source, node, ppr] aligned to (query, item)."""
    base = ppr.select(F.col("source").alias("query_id"),
                      F.col("node").alias("item_id"), "ppr")
    return base.join(max_share, "query_id", "left").select(
        "query_id", "item_id",
        (F.lit(0.4) * F.col("ppr")
         + F.lit(0.3) * F.lit(1.0 - conductance_value)
         + F.lit(0.3) * F.coalesce("max_share", F.lit(0.0))).alias("t_factor"),
    )
