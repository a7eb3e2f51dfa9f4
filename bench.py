"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extra": {...}}

The BASELINE anchor (BASELINE.md) is index-build throughput
(~420 items/s at N=314k F=384 single-node) plus interactive search;
`extra.build_items_per_sec` reports our equivalent.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# BLAS/OMP thread pinning — set BEFORE numpy loads (OpenBLAS reads the
# env at library init). Without this, every one of the 32 concurrent
# Python workers spins up a default-width (=ncpu) BLAS pool for its
# small batch gemms — ~1024 busy-spinning threads of oversubscription,
# the prime suspect for the round-7 same-day 830 s-vs-494 s build
# spread. Workers pin to 1 thread (their parallelism IS the 32 tasks);
# the driver keeps a full-width pool for its serial-phase kernels
# (driver-tier diffusion, Lloyd, exact scans) where executors are
# idle. Both knobs are recorded in the artifact's `extra`.
_DRIVER_BLAS = os.environ.get(
    "SPARK_GRAFT_DRIVER_BLAS_THREADS",
    os.environ.get("SPARK_GRAFT_CPUS", "32"))
_WORKER_BLAS = os.environ.get("SPARK_GRAFT_WORKER_BLAS_THREADS", "1")
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = _DRIVER_BLAS

import numpy as np
from pyspark.sql import functions as F

from pyarrowspace_spark.session import get_spark
from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.operators.search import search
from pyarrowspace_spark.sources import loaders
import __spark_entry__ as entry_mod


def _sampled_edge_recall(parquet_path: str, lsh_edges, eps: float, k: int,
                         n_sample: int = 2000, seed: int = 7) -> float:
    """Edge recall of the LSH graph vs the exact graph, estimated on a
    seeded node sample.

    The exact O(N^2) graph is too expensive to build per bench run at
    N~80k, so we measure the standard sampled estimator: for n_sample
    random nodes, compute their exact directed eps/top-k neighbor sets
    with one driver gemm (sample x N), and count how many of those
    directed edges appear in the symmetrized LSH edge list. Because
    symmetrization keeps an edge when EITHER endpoint ranked it, every
    sampled directed edge is in the exact symmetric graph, so this is
    an unbiased estimate of symmetric-edge recall restricted to the
    sampled sources. Driver-side by design: it is bench
    instrumentation, not an operator.
    """
    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path, columns=["item_id", "features"])
    ids = tbl["item_id"].to_numpy()
    X = np.stack(tbl["features"].to_numpy()).astype(np.float64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    srows = rng.choice(len(ids), size=min(n_sample, len(ids)), replace=False)
    exact_pairs = set()
    for c0 in range(0, len(srows), 256):
        rows = srows[c0:c0 + 256]
        dist = 1.0 - np.maximum(U[rows] @ U.T, 0.0)
        for r, row in enumerate(rows):
            drow = dist[r]
            mask = (drow <= eps) & (ids != ids[row])
            cand = np.nonzero(mask)[0]
            if cand.size > k:
                cand = cand[np.lexsort((ids[cand], drow[cand]))[:k]]
            for c in cand:
                a, b = int(ids[row]), int(ids[c])
                exact_pairs.add((min(a, b), max(a, b)))
    sample_ids = set(int(ids[r]) for r in srows)
    from pyspark.sql import functions as SF
    hit_rows = lsh_edges.filter(
        SF.col("src").isin(sample_ids) | SF.col("dst").isin(sample_ids)
    ).select("src", "dst").collect()
    lsh_pairs = set((min(r["src"], r["dst"]), max(r["src"], r["dst"]))
                    for r in hit_rows)
    return round(len(exact_pairs & lsh_pairs) / max(len(exact_pairs), 1), 4)


def _dedicated_scratch(extra: dict) -> str:
    """Dedicated per-PROCESS Spark scratch (r12: the driver bench died
    to a blockmgr temp_shuffle file VANISHING mid-write under /tmp —
    root-caused in r13 to a CONCURRENT measurement chain's bulk
    `rm blockmgr-*` cleanup; reproduced deliberately). The root is
    $SPARK_GRAFT_SCRATCH_DIR, else <repo>/.sparkscratch; each process
    runs in its own pid-named subdir (session.scratch_run_dir), so no
    cleanup can touch a live run. The free-space check runs BEFORE
    the suite so a doomed run says so in its artifact instead of
    dying 40 minutes in."""
    import shutil as _sh

    from pyarrowspace_spark.session import scratch_run_dir

    repo = os.path.dirname(os.path.abspath(__file__))
    root = (os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
            or os.path.join(repo, ".sparkscratch"))
    scratch = scratch_run_dir(root)
    free_gb = _sh.disk_usage(scratch).free / 1024**3
    extra["scratch_dir"] = scratch
    extra["scratch_free_start_gb"] = round(free_gb, 1)
    if free_gb < 40:
        print(f"[bench] WARNING: scratch '{scratch}' has only "
              f"{free_gb:.1f} GB free — the sf0.1 suite peaks near "
              f"30 GB of shuffle/spill; consider freeing disk",
              file=sys.stderr)
    return scratch


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    timings: dict[str, float] = {}
    extra: dict[str, object] = {}
    scratch = _dedicated_scratch(extra)
    # Worker-side BLAS pinning rides spark.executorEnv.* — applied to
    # every Python worker at spawn (works in local mode too: the env
    # overrides ship with each python function). The driver-process
    # pinning happened above, pre-numpy.
    spark = get_spark("pyarrowspace-bench", extra_conf={
        # zstd compresses the diffusion/build shuffle blocks denser
        # than the lz4 default — the at-scale phases are scratch-disk
        # bound before they are CPU bound (the first r8 run DIED on
        # "no space left on device" in the diffusion timing).
        "spark.io.compression.codec": "zstd",
        "spark.local.dir": scratch,
        **{f"spark.executorEnv.{v}": _WORKER_BLAS
           for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                     "MKL_NUM_THREADS")},
    })
    entry_mod._ship_package(spark)

    extra["blas_threads_driver"] = int(_DRIVER_BLAS)
    extra["blas_threads_worker"] = int(_WORKER_BLAS)
    # Host-load self-description: cross-round bench comparisons were
    # repeatedly confounded by external container load (same commit
    # swung 120->217 s under load ~13). Record the 1/5/15-min load
    # average at start and end so every artifact carries its own
    # validity context instead of tribal knowledge.
    extra["loadavg_start"] = [round(v, 2) for v in os.getloadavg()]
    # Host memory-WRITE bandwidth probe: cross-round comparisons were
    # confounded a second way — a degraded-VM day measured memcpy at
    # 0.1 GB/s (reads a healthy 11 GB/s), inflating every allocation-
    # heavy phase ~40% with zero code change. 100 MB copy, ~1 s worst.
    # Cold copy (includes first-touch page faults — dominated by the
    # kernel's fault path, not memory bandwidth) AND a warm copy into
    # the same buffer. Round 6 taught us the distinction matters: an
    # idle freshly-booted host probed 0.15 GB/s cold but 9+ GB/s warm;
    # the cold number alone mislabels a healthy host as degraded.
    _buf = np.random.standard_normal(100_000_000 // 8)
    _t0 = time.time()
    _buf2 = _buf.copy()
    extra["host_memcpy_gbps"] = round(0.1 / max(time.time() - _t0, 1e-9), 2)
    _t0 = time.time()
    _buf2[:] = _buf
    extra["host_memcpy_warm_gbps"] = round(
        0.1 / max(time.time() - _t0, 1e-9), 2)
    del _buf, _buf2
    # Compute probe: fixed 1024³ f64 gemm (~2.1 GFLOP) through the
    # same BLAS every kernel uses. Round 7 measured the unchanged-code
    # exact scan 2× slower than round 6 on an idle host — memcpy and
    # loadavg alone can't separate "loaded" from "slower silicon";
    # GFLOPS on a fixed problem can.
    _a = np.random.standard_normal((1024, 1024))
    _a @ _a  # BLAS warm-up / thread spin-up outside the timing
    _t0 = time.time()
    for _ in range(4):
        _a @ _a
    extra["host_gemm_gflops"] = round(
        4 * 2 * 1024**3 / 1e9 / max(time.time() - _t0, 1e-9), 1)
    del _a
    # Buffered disk-write probe (parity with measure_1m.py: Spark
    # shuffle/spool writes are buffered, so THIS number — not
    # gemm/memcpy — prices every shuffle-bound query; r13 adds it here
    # so the probe-normalized report covers the sf0.1 suite too).
    try:
        import tempfile as _tf

        _blk = b"\0" * (8 << 20)
        _t0 = time.time()
        with _tf.NamedTemporaryFile(dir=scratch, buffering=0) as _fh:
            for _ in range(32):
                _fh.write(_blk)
            os.fdatasync(_fh.fileno())
        extra["host_diskwrite_mbps"] = round(
            256 / max(time.time() - _t0, 1e-9), 1)
        del _blk
    except OSError:
        extra["host_diskwrite_mbps"] = None

    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_result.json")

    def _write_sidecar(partial: bool) -> str:
        line = json.dumps({
            "metric": "pyarrowspace-spark headline suite wall time",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "extra": dict(extra, partial=True) if partial else extra,
        })
        with open(sidecar, "w") as fh:
            fh.write(line + "\n")
        return line

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        # Re-write the sidecar after EVERY phase: the first r8 run
        # crashed (disk full) in the last timing block and lost 40
        # minutes of completed measurements because the artifact was
        # only written at the end. A crash now costs one phase.
        _write_sidecar(partial=True)
        return out

    # --- index build (the BASELINE throughput anchor) ---------------------
    items = loaders.items_from_embeddings(spark, sf_dir).select(
        "item_id", "features"
    )
    n_items = items.count()
    # Warm Python workers / Arrow / codegen on a tiny slice so the
    # timed build measures steady-state throughput, not JVM+worker
    # cold start (which a long-running cluster never pays per job).
    warm = ArrowSpaceBuilder.build(
        items.limit(64), {"eps": 0.99, "k": 5, "topk": 5, "p": 2.0})
    warm.items.count(); warm.edges.count()
    warm.items.unpersist(); warm.edges.unpersist()
    idx = timed("index_build", lambda: ArrowSpaceBuilder.build(
        items, {"eps": 0.99, "k": 10, "topk": 10, "p": 2.0}
    ))
    # force full materialization of lambda + edges
    timed("index_materialize", lambda: (idx.items.count(), idx.edges.count()))
    build_sec = timings["index_build"] + timings["index_materialize"]
    extra["build_items_per_sec"] = round(n_items / build_sec, 1)
    extra["n_items"] = n_items

    # --- lambda-aware search (3 queries x tau=0.62, like the reference
    #     CVE harness: 3 queries x 3 tau values interactive) --------------
    qrows = items.filter(F.col("item_id").isin([3, 7, 11])).collect()
    qvecs = np.array([r["features"] for r in qrows]) * 1.05
    # untimed: compile the search plan once (steady-state, as above)
    search(idx.items, idx.feature_laplacian, qvecs[:1], tau=0.9, k=3).collect()
    for tau in (1.0, 0.8, 0.62):
        timed(f"search_tau_{tau}", lambda t=tau: search(
            idx.items, idx.feature_laplacian, qvecs, tau=t, k=10
        ).collect())

    # --- headline operator queries (same code path as the driver) --------
    qs = entry_mod.queries()
    names = [
        "cosine_topk", "knn_graph_edges", "ir_quality_labels",
        "pricing_summary", "top_customers", "events_hourly", "events_asof",
        "sessionize", "dedup_exact", "text_stats", "minhash_signatures",
        "minhash_band_pairs", "ngram_jaccard", "simhash",
        "embedding_near_dups", "ann_lsh_topk", "random_projection",
        "lang_id", "media_frame_sample", "build_diagnostics",
    ]
    # Same steady-state rationale as the build warm-up above: run each
    # query once at the smallest SF so Catalyst/janino codegen and
    # Python workers are hot, then time the real SF. A long-running
    # cluster compiles a recurring query once, not per run.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(os.path.join(warm_dir)) and warm_dir != sf_dir:
        for name in names:
            qs[name](spark, warm_dir).write.format("noop").mode(
                "overwrite").save()
    for name in names:
        timed(name, lambda n=name: qs[n](spark, sf_dir).write.format(
            "noop").mode("overwrite").save())

    # --- LSH build at the reference ledger scale ------------------------
    # BASELINE.md scale ledger: N=78,580 -> 401.64 s (v0.16; v0.17 is
    # "2x faster", so ~200 s is the honest bar). Same graph params as
    # the ledger runs (k=25, topk=15, p=2.0; eps effectively non-pruning
    # there, mirrored here with eps=0.99 on rectified-cosine distance).
    # The corpus is a deterministic clustered synthetic with the CVE
    # corpus's shape (F=384, x12 magnitude, near-dup clusters); see
    # sources/synth.py. Generation is cached and untimed.
    scale_n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "78580"))
    if scale_n > 0:
        from pyarrowspace_spark.sources.synth import ensure_clustered_corpus

        cache = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             ".benchdata")
        big_path = ensure_clustered_corpus(cache, n=scale_n, f=384)
        big = spark.read.parquet(big_path).select("item_id", "features")
        big_params = {"eps": 0.99, "k": 25, "topk": 15, "p": 2.0}
        bidx = timed("lsh_index_build_at_scale", lambda: ArrowSpaceBuilder.build(
            big, big_params, strategy="lsh"))
        timed("lsh_index_materialize_at_scale",
              lambda: (bidx.items.count(), bidx.edges.count()))
        big_sec = (timings["lsh_index_build_at_scale"]
                   + timings["lsh_index_materialize_at_scale"])
        extra["lsh_n_items"] = scale_n
        extra["lsh_build_sec"] = round(big_sec, 3)
        extra["lsh_build_items_per_sec"] = round(scale_n / big_sec, 1)
        extra["lsh_edge_recall_sampled"] = _sampled_edge_recall(
            big_path, bidx.edges, eps=0.99, k=25, n_sample=2000)
        bq = np.array(big.filter(F.col("item_id").isin([3, 7, 11]))
                      .collect()[0]["features"])[None, :] * 1.05
        timed("lsh_search_at_scale", lambda: search(
            bidx.items, bidx.feature_laplacian, bq, tau=0.62, k=15).collect())

        # Sublinear λ-search: hash the corpus ONCE (indexing cost, timed
        # separately), then the per-query cost is bucket join + rescore.
        from pyarrowspace_spark.operators.search import search_ann
        from pyarrowspace_spark.operators.simsearch import (auto_lsh_tables,
                                                            lsh_hyperplanes,
                                                            with_lsh_buckets)

        # recall-targeted table count, corpus-size-aware (fixed 4
        # tables measured 0.896 recall@15 at N=313k — under the 0.9
        # contract; beyond the calibration scale the schedule grows)
        n_tables = auto_lsh_tables(n_planes=10, target_recall=0.95,
                                   n_items=scale_n)
        extra["ann_n_tables"] = n_tables
        planes = lsh_hyperplanes(384, n_tables=n_tables, n_planes=10)
        hashed = with_lsh_buckets(
            bidx.items.select("item_id", "features", "e_raw", "g"),
            planes).persist()
        timed("lsh_ann_hash_at_scale", lambda: hashed.count())
        qdf = spark.createDataFrame(
            [(int(i), [float(v) for v in bq[0]]) for i in (0,)],
            schema="query_id long, features array<double>")
        timed("lsh_ann_search_at_scale", lambda: search_ann(
            hashed, bidx.feature_laplacian, qdf, tau=0.62, k=15,
            planes=planes).collect())

        # ANN top-k recall vs the exact path, measured (not asserted):
        # 50 perturbed corpus vectors as queries, recall@15 of
        # search_ann against exact `search` at the same tau. This is
        # the number the sublinear path's speedup is conditional on.
        qn = 50
        qrows_big = (big.filter(F.col("item_id") < 5 * qn)
                     .orderBy("item_id").limit(qn).collect())
        qmat = np.array([r["features"] for r in qrows_big]) * 1.05
        qdf50 = spark.createDataFrame(
            [(int(i), [float(v) for v in qmat[i]]) for i in range(len(qmat))],
            schema="query_id long, features array<double>")
        exact50 = search(bidx.items, bidx.feature_laplacian, qmat,
                         tau=0.62, k=15).select("query_id", "item_id")
        exact_sets: dict[int, set] = {}
        for r in exact50.collect():
            exact_sets.setdefault(r["query_id"], set()).add(r["item_id"])
        t0 = time.time()
        ann_rows = search_ann(
            hashed, bidx.feature_laplacian, qdf50, tau=0.62, k=15,
            planes=planes).select("query_id", "item_id").collect()
        timings["lsh_ann_search_50q_at_scale"] = round(time.time() - t0, 3)
        ann_sets: dict[int, set] = {}
        for r in ann_rows:
            ann_sets.setdefault(r["query_id"], set()).add(r["item_id"])
        recalls = [
            len(ann_sets.get(q, set()) & hits) / max(len(hits), 1)
            for q, hits in exact_sets.items()
        ]
        extra["ann_topk_recall_at_15"] = round(float(np.mean(recalls)), 4)
        extra["ann_topk_recall_n_queries"] = len(recalls)

        # Amortized serving path (r6 stretch): persist the hashed
        # corpus ONCE as a parquet artifact and serve search_ann from
        # the REOPENED table — the cross-session shape of the
        # hash-once contract (the planes fingerprint stamped by
        # with_lsh_buckets survives the parquet round-trip, so a
        # mismatched-planes reopen still errors instead of silently
        # missing). Expected within noise of the in-memory number:
        # the query side is broadcast, so the corpus side never
        # exchanges in either shape.
        # r7 verdict #2: the plain-parquet write produced one 3.7x
        # same-day saved-read outlier (56.6 s vs 15.5 s). Write through
        # the engine's bucketed-table save instead (the same machinery
        # as ArrowSpaceIndex.save(table_prefix=...)): repartition on
        # item_id FIRST so each task holds exactly one bucket's rows —
        # 32 files instead of tasks x buckets fragments — and the
        # saved table is sorted, bucketed, and id-join-co-located for
        # any downstream rescore/extend. The serving join itself
        # broadcasts the query side, so the corpus never exchanges in
        # either shape (pinned by tests/test_round8_fixes plan test).
        saved_dir = os.path.join(cache, f"hashed_n{scale_n}")
        n_buckets = 32
        (hashed.repartition(n_buckets, "item_id")
         .write.mode("overwrite").format("parquet")
         .bucketBy(n_buckets, "item_id").sortBy("item_id")
         .option("path", saved_dir)
         .saveAsTable(f"bench_hashed_n{scale_n}"))
        reopened = spark.table(f"bench_hashed_n{scale_n}")
        timed("lsh_ann_search_saved_50q_at_scale", lambda: search_ann(
            reopened, bidx.feature_laplacian, qdf50, tau=0.62, k=15,
            planes=planes).collect())
        hashed.unpersist()

        # --- energy pipeline at ledger scale ------------------------------
        # BASELINE.md: reference energy build at N=313,841 is 741.26 s
        # (eta=0.05 steps=4, optical_tokens=40). Same fixed config here
        # on the same synthetic corpus; the graph stage reuses the LSH
        # ledger params (k=25, topk=15, eps=0.99).
        if os.environ.get("SPARK_GRAFT_BENCH_ENERGY", "1") != "0":
            from pyarrowspace_spark.operators.energy import (build_energy,
                                                             search_energy)
            from pyarrowspace_spark.params import EnergyParams, GraphParams

            # Reuse the λτ-graph already built by the LSH ledger run
            # above (identical corpus + graph params). With the exact
            # strategy the edge lists would be value-identical
            # (rectified-cosine distance is invariant to the builder's
            # unit-norm step); here both builds use strategy="lsh", so
            # the reuse shares the same *approximate* graph (sampled
            # edge recall 0.9623) rather than an identical exact one —
            # which is what a standalone 313k energy build would
            # auto-pick anyway: a real pipeline building both indexes
            # runs the graph stage once. The
            # reported energy_build_sec therefore measures diffusion +
            # λ/e + compression + split — the energy-specific work.
            eidx = timed("energy_build_at_scale", lambda: build_energy(
                big,
                EnergyParams(eta=0.05, steps=4, optical_tokens=40),
                GraphParams(eps=0.99, k=25, topk=15, p=2.0),
                edges=bidx.edges,
            ))
            timed("energy_materialize_at_scale",
                  lambda: (eidx.items.count(), eidx.centroids.count()))
            esec = (timings["energy_build_at_scale"]
                    + timings["energy_materialize_at_scale"])
            extra["energy_build_sec"] = round(esec, 3)
            extra["energy_build_items_per_sec"] = round(scale_n / esec, 1)
            extra["energy_reuses_graph"] = True
            # apples-to-apples vs BASELINE.md's standalone energy build
            # (which pays its own graph stage): energy-specific work +
            # the shared graph build measured above
            extra["energy_build_plus_graph_sec"] = round(
                esec + extra.get("lsh_build_sec", 0.0), 3)
            timed("energy_search_at_scale", lambda: search_energy(
                eidx, bq[0], k=15).collect())
            # Batched energy search: the same 50 queries as the ANN
            # recall block, ONE plan (one shortlist window + one member
            # rescore) instead of 50 unioned jobs (r5 brief #4).
            timed("energy_search_50q_at_scale", lambda: search_energy(
                eidx, qmat, k=15,
                query_ids=list(range(len(qmat)))).collect())

            # Distributed diffusion tier (the beyond-4GiB / 100 TB
            # path, which the driver-tier corpora never exercise):
            # force it so the artifact carries a measured per-step
            # cost for the spool plan, not just the driver-tier loop.
            from pyarrowspace_spark.functions import matrix as matrix_mod
            from pyarrowspace_spark.operators import energy as energy_mod

            budget0 = matrix_mod.DRIVER_BUDGET_BYTES
            matrix_mod.DRIVER_BUDGET_BYTES = 0
            try:
                # r7 verdict #3: does step 2+ amortize? ONE instrumented
                # 2-step run yields both numbers (step 1 pays the
                # loop-invariant edge materialization; the step-2 entry
                # is the honest per-step marginal at scale). The JVM GC
                # first reclaims the earlier phases' dead shuffle files.
                spark.sparkContext._jvm.System.gc()
                info: dict = {}
                timed("diffuse_distributed_2step_at_scale",
                      lambda: energy_mod.diffuse(
                          big, bidx.edges, eta=0.05, steps=2,
                          info=info).count())
                step_secs = info.get("step_sec", [])
                if len(step_secs) == 2:
                    # in extra, not timings: the 2step total already
                    # contains both steps — adding step 1 to the
                    # timings dict would double-count it in the suite
                    # wall-time sum (r07c's "diffuse_distributed_1step
                    # _at_scale" queries entry is comparable to
                    # extra["diffuse_step1_sec"] here)
                    extra["diffuse_step1_sec"] = step_secs[0]
                    extra["diffuse_step2_marginal_sec"] = step_secs[1]
                # r14 (VERDICT r13 item 3): record WHICH physical plan
                # the distributed tier ran, so the artifact says the
                # spool actually engaged.
                extra["diffuse_plan"] = info.get("plan", info.get("tier"))
                extra["diffuse_tier"] = info.get("tier")
            finally:
                matrix_mod.DRIVER_BUDGET_BYTES = budget0

    extra["loadavg_end"] = [round(v, 2) for v in os.getloadavg()]
    # Write the final (non-partial) sidecar FIRST so the result
    # survives any stdout mishap, then stop Spark BEFORE printing: in
    # round 6 the interpreter-exit shutdown hook dumped an RPC-timeout
    # stack trace after the JSON line, displacing it from the driver's
    # tail capture (BENCH_r06.json parsed: null). Stopping the session
    # here makes the JSON the true last line of stdout.
    result_line = _write_sidecar(partial=False)
    try:
        spark.stop()
    except Exception:
        pass  # a noisy stop must not eat the result line
    sys.stdout.flush()
    print(result_line, flush=True)


if __name__ == "__main__":
    main()
