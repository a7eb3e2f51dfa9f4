"""Deduplication operators for LLM-data pipelines.

Four families, all shuffle-conscious and expressed as native DataFrame
ops so Catalyst handles partial aggregation and AQE handles skew:

- exact: content-fingerprint groupBy (one shuffle on a 60-bit hash).
- MinHash + LSH banding: shingle → K permuted min-hashes → band
  buckets → candidate pairs join bucket-locally (never all-pairs) →
  exact Jaccard rescore. The 100 TB near-dup path.
- n-gram Jaccard: exact pairwise Jaccard via shingle inverted index
  (explode + self-join on shingle, groupBy pair) — the correctness
  oracle for MinHash, quadratic only within shingle buckets.
- SimHash: 60-bit hash per token, per-bit majority vote → 64-bit-ish
  signature; near-dups = signatures at small Hamming distance.

All hashes are the portable md5-based `portable_hash60`, so DuckDB can
replay every step bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T

# Deterministic universal-hash constants shared with the SQL oracle.
MINHASH_PRIME = 1_000_000_007
NUM_PERM = 16
BAND_ROWS = 2  # 8 bands of 2 rows

MINHASH_A = [(2654435761 * (i + 1)) % MINHASH_PRIME for i in range(NUM_PERM)]
MINHASH_B = [(40503 * (i + 1) * (i + 1) + 12345) % MINHASH_PRIME
             for i in range(NUM_PERM)]


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup groups: DataFrame[fingerprint, n_docs, keep_id]
    (keep_id = min doc id; survivors of dedup)."""
    fp = docs.select(
        F.col(id_col), T.content_fingerprint(text_col).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id")
    )


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text", distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc with portable hashes.

    `distinct=True` (set semantics, one shuffle) is required by the
    Jaccard counters; duplicate-insensitive consumers (minhash `min`)
    pass False and skip that shuffle entirely.
    """
    sh = docs.select(F.col(id_col),
                     F.explode(T.word_ngrams(text_col, n)).alias("shingle"))
    if distinct:
        sh = sh.distinct()
    return sh.withColumn(
        "h", T.portable_hash60("shingle") % F.lit(MINHASH_PRIME))


def _minhash_wide(docs: DataFrame, n: int, id_col: str,
                  text_col: str) -> DataFrame:
    """One row per doc with all K minhashes as columns m0..m{K-1}.

    K parallel min-aggregates instead of an explode×K + groupBy(doc,
    perm): map-side partial aggregation reduces the shuffle to ONE
    row per doc per partition (vs K), and the K× intermediate row
    blowup never materializes.
    """
    sh = shingles(docs, n, id_col, text_col, distinct=False)
    return sh.groupBy(id_col).agg(*[
        F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
              % F.lit(MINHASH_PRIME)).alias(f"m{i}")
        for i in range(NUM_PERM)
    ])


def minhash_signatures(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """DataFrame[doc_id, perm, minhash] — K×N rows, one shuffle.

    h_i(s) = (a_i·H(s) + b_i) mod p with H the portable 60-bit hash
    reduced mod p; products stay < 2^63 (a_i, H < p ≈ 2^30).
    """
    mins = _minhash_wide(docs, n, id_col, text_col)
    return mins.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"m{i}") for i in range(NUM_PERM)]))
        .alias("perm", "minhash"),
    )


def minhash_band_candidates(docs: DataFrame, n: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """LSH banding: docs sharing any (band, band-signature) bucket.

    Returns DataFrame[id_a, id_b] with id_a < id_b. The pair join is
    per-bucket — shuffle on the band hash, never a global cross join.

    Band keys are assembled as row expressions over the wide minhash
    row (same "perm:minhash" sorted-concat string the oracle builds),
    so there is no explode + regroup shuffle between the signature
    aggregate and the bucket join.
    """
    mins = _minhash_wide(docs, n, id_col, text_col)
    n_bands = NUM_PERM // BAND_ROWS
    band_structs = []
    for b in range(n_bands):
        parts = [
            F.concat_ws(":", F.lit(str(i)), F.col(f"m{i}").cast("string"))
            for i in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)
        ]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", F.array_sort(F.array(*parts))).alias("band_key"),
        ))
    band_sig = mins.select(
        id_col, F.explode(F.array(*band_structs)).alias("_bk")
    ).select(id_col, F.col("_bk.band").alias("band"),
             F.col("_bk.band_key").alias("band_key"))
    a = band_sig.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = band_sig.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.2,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Exact pairwise n-gram Jaccard ≥ threshold via inverted index.

    |A∩B| from the shingle self-join (pairs only materialize for docs
    sharing ≥1 shingle — the inverted index prunes the N² space; the
    two branches are identical subplans, so ReuseExchange computes the
    distinct shuffle once). |A∪B| = |A|+|B|−|A∩B| with per-doc
    distinct-shingle counts computed as a row expression — no explode,
    no extra tokenize pass — joined back unhinted so AQE broadcasts
    when small and shuffle-joins at billion-doc scale where a per-doc
    table is NOT broadcastable. (An inverted-index collect_set +
    map-side pair-explosion variant was tried and is ~2× slower here:
    it forfeits exchange reuse and pays per-row O(m²) HOF filters.)
    """
    # per-doc set semantics via array_distinct BEFORE the explode — a
    # row expression, not a (id, shingle) distinct shuffle; the join
    # exchange on `shingle` is then the branch's only shuffle
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(T.word_ngrams(text_col, n)))
        .alias("shingle"),
    )
    inter = (
        sh.alias("x").join(sh.alias("y"), "shingle")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    counts = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.array_distinct(T.word_ngrams(text_col, n))).alias("n_sh"),
    )
    return (
        inter.join(counts.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(counts.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("n_inter") /
                    (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Per-doc SimHash signature over distinct tokens.

    bit_j = 1 iff Σ_tokens (±1 by token-hash bit j) > 0. Pure SQL:
    explode tokens → per-bit vote via bit arithmetic → groupBy doc.
    Returns DataFrame[doc_id, simhash(long)].
    """
    # per-doc distinct is a row expression — no (doc, token) distinct
    # shuffle; the only shuffle left is the vote groupBy, which
    # partial-aggregates its 32 sums map-side
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(T.tokens(text_col))).alias("tok"),
    ).withColumn("h", T.portable_hash60("tok"))
    votes = toks.select(
        id_col,
        *[(F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                  F.lit(1)).otherwise(F.lit(-1))).alias(f"b{j}")
          for j in range(bits)],
    )
    agg = votes.groupBy(id_col).agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(bits)]
    )
    sig = agg.select(
        id_col,
        sum(
            (F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
             for j in range(bits)),
            start=F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sig


def embedding_near_dup_pairs(emb: DataFrame, threshold: float,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             strategy: str = "auto",
                             lsh_bits: int | None = None,
                             lsh_bands: int | None = None,
                             n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ t).

    Two physical strategies, one contract (mirrors knn_edges):

    - ``exact`` (N ≤ EXACT_PATH_MAX_ROWS): broadcast corpus +
      partition-local BLAS scan; the N² space is filtered
      executor-side, only qualifying pairs reach the output.
    - ``lsh``: the band-LSH candidate generator from operators/knn.py
      with eps = 1 − t (cos ≥ t ⇔ rectified-cosine distance ≤ 1−t for
      t > 0). Bucket-local pair generation, nothing N-sized on the
      driver — the 100 TB path. Approximate by the same ≥0.95-recall
      contract as the LSH graph build; pair cosines carry the f32
      unit-vector rounding (~1e-7), far below any dedup threshold.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from .knn import EXACT_PATH_MAX_ROWS, pairwise_candidates_lsh
    from ..functions.matrix import collect_id_matrix

    if strategy == "auto":
        n = emb.count() if n_rows is None else int(n_rows)
        strategy = ("exact" if n <= EXACT_PATH_MAX_ROWS
                    else "lsh")
    if strategy == "lsh":
        cand = pairwise_candidates_lsh(
            emb, id_col, vec_col, eps=1.0 - float(threshold),
            n_bits=lsh_bits, n_bands=lsh_bands)
        return (
            cand.filter(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("id_a"),
                    F.col("dst").alias("id_b"),
                    (F.lit(1.0) - F.col("dist")).alias("cos"))
        )
    if strategy != "exact":
        raise ValueError(f"unknown strategy {strategy!r}")

    spark = emb.sparkSession
    ids, X = collect_id_matrix(emb, id_col, vec_col)
    norms = np.linalg.norm(X, axis=1)
    b_ids = spark.sparkContext.broadcast(ids)
    b_X = spark.sparkContext.broadcast(X)
    b_norms = spark.sparkContext.broadcast(norms)
    t = float(threshold)

    schema = StructType([
        StructField("id_a", LongType(), False),
        StructField("id_b", LongType(), False),
        StructField("cos", DoubleType(), False),
    ])

    def scan(batches):
        ids_all, X_all, n_all = b_ids.value, b_X.value, b_norms.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            qids = pdf[id_col].to_numpy(dtype=np.int64)
            qn = np.linalg.norm(Q, axis=1)
            cos = (Q @ X_all.T) / np.outer(qn, n_all)
            # emit only (id_a < id_b) to halve work and dedupe
            ra, ca = np.nonzero((cos >= t) & (qids[:, None] < ids_all[None, :]))
            if ra.size:
                yield pd.DataFrame({
                    "id_a": qids[ra],
                    "id_b": ids_all[ca],
                    "cos": cos[ra, ca],
                })

    return emb.select(id_col, vec_col).mapInPandas(scan, schema=schema)


def connected_components(pairs: DataFrame, iters: int | None = 8,
                         id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Duplicate-GROUP assembly: connected components over the
    near-dup pair graph by iterated min-label propagation
    (component id = min doc id reachable; `iters` bounds the hop
    radius — 8 covers diameters far beyond real dup-cluster sizes;
    `iters=None` runs until convergence, whatever the diameter).

    Every iteration checks convergence on the already-checkpointed
    frame (labels only DECREASE under min-propagation, so "no label
    shrank" == fixed point) and stops early — the common case on dup
    graphs is 2-3 real iterations, so the bound is a backstop, not
    the expected cost.

    Returns DataFrame[node, component]. Each iteration is one
    join + min-aggregate — the standard scalable CC formulation
    (no driver-side union-find); `localCheckpoint` caps lineage.
    """
    both = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # pre-partitioned on the per-iteration join key (InMemoryRelation
    # keeps outputPartitioning, so only the label side exchanges per
    # hop), released at return — the same iteration hygiene as
    # diffusion/PPR/LPA.
    n_part = int(pairs.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    both = both.unionAll(both.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))
                         ).repartition(n_part, "src").persist()
    try:
        lab = both.select("src").unionAll(
            both.select("dst")).distinct().select(
            F.col("src").alias("node"), F.col("src").alias("component"))
        i = 0
        while iters is None or i < int(iters):
            i += 1
            prop = (
                both.join(lab, both["src"] == lab["node"])
                .select(F.col("dst").alias("node"), "component")
                .unionAll(lab.select("node", "component"))
                .groupBy("node").agg(F.min("component").alias("component"))
            )
            # eager checkpoint: truncates lineage NOW, so iteration
            # i+1 plans against a materialized RDD instead of a
            # 2^i-deep plan.
            new_lab = prop.localCheckpoint(eager=True)
            converged = (
                new_lab.join(
                    lab.withColumnRenamed("component", "_old"), "node")
                .filter(F.col("component") < F.col("_old"))
                .isEmpty()
            )
            lab = new_lab
            if converged:
                break
        # lab is an eager checkpoint — independent of the edge cache
        return lab
    finally:
        # unpersist on error too, not just the success path
        both.unpersist()


GLOBAL_SHARD_MAX_ROWS = 1_000_000


def dedup_keeplist(docs: DataFrame, n: int = 3, threshold: float = 0.2,
                   cc_iters: int | None = 8, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """End-to-end dedup survivor list — the operator a training export
    actually consumes: exact dups AND near-dup components collapse to
    one survivor each (min id), everything else passes through.

    Pipeline (each stage is the already-oracle-checked operator):
      exact fingerprint groups → n-gram-Jaccard pair graph →
      connected components → keep = min(component) ∧ min(fingerprint
      group). Returns DataFrame[doc_id, keep] (keep=false rows are the
      ones a training export drops). Anti-join-free: one left join per
      stage against small survivor tables; every join key is an id or
      60-bit hash, so AQE broadcast handles the survivor side at scale.
    """
    fp = docs.select(F.col(id_col),
                     T.content_fingerprint(text_col).alias("fingerprint"))
    fp_keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias("keep_id"))
    exact_ok = fp.join(fp_keep, "fingerprint").select(
        id_col, (F.col(id_col) == F.col("keep_id")).alias("_exact_keep"))
    pairs = ngram_jaccard_pairs(docs, n=n, threshold=threshold,
                                id_col=id_col, text_col=text_col)
    comp = connected_components(pairs, iters=cc_iters)
    comp_keep = comp.select(
        F.col("node").alias(id_col),
        (F.col("node") == F.col("component")).alias("_near_keep"))
    return (
        exact_ok.join(comp_keep, id_col, "left")
        .select(
            id_col,
            (F.col("_exact_keep")
             & F.coalesce("_near_keep", F.lit(True))).alias("keep"),
        )
    )


def shard_by_token_budget(docs: DataFrame, budget_tokens: int,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          global_order_max_rows: int = GLOBAL_SHARD_MAX_ROWS,
                          n_rows: int | None = None,
                          ) -> DataFrame:
    """Training-export packing: assign docs (in deterministic id order)
    to shards of ~`budget_tokens` tokens.

    Two physical strategies, one per-shard contract (every shard's
    docs are id-contiguous and hold ≤ ~budget tokens):

    - global (N ≤ `global_order_max_rows`): one total-order window,
      shard = floor((cumsum(tokens) − tokens) / budget). Exact global
      shard numbering; the single-ordering shuffle is fine at this N.
    - partition-prefix (above): `repartitionByRange(id)` spreads the
      corpus into id-contiguous partitions, then ONE Arrow pass per
      partition computes the running cumsum and emits
      shard = (partition_id << 32) | local_shard. No stage funnels
      through a single task, so packing scales with the cluster; the
      only difference from the global variant is that the last shard
      of each partition may be under-full (bounded waste:
      ≤ nparts·budget tokens across the whole corpus).
    """
    from ..functions import text as T

    counted = docs.select(
        id_col, T.token_count(text_col).alias("n_tokens"))
    n = counted.count() if n_rows is None else int(n_rows)
    if n <= int(global_order_max_rows):
        w = Window.orderBy(F.col(id_col).asc()).rowsBetween(
            Window.unboundedPreceding, 0)
        return counted.withColumn(
            "shard",
            F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                    / F.lit(int(budget_tokens))).cast("long"),
        )

    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    budget = int(budget_tokens)
    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("shard", LongType(), False),
    ])

    def pack(batches):
        pid = TaskContext.get().partitionId()
        prefix = pid << 32
        running = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nt = pdf["n_tokens"].to_numpy(dtype=np.int64)
            cum = running + np.cumsum(nt)
            running = int(cum[-1])
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(dtype=np.int64),
                "n_tokens": nt,
                "shard": prefix | ((cum - nt) // budget),
            })

    spark = counted.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parted = counted.repartitionByRange(
        nparts, F.col(id_col)).sortWithinPartitions(F.col(id_col))
    return parted.mapInPandas(pack, schema=schema)
