"""Measure the sign-LSH per-bit agreement probability p_bit at a given
corpus scale — the calibration input behind
`operators.simsearch.auto_lsh_tables` (see the _PBIT_* module
constants there).

Procedure (identical to the N=6k / 78k / 313k design points): build
the LSH λτ-index on the deterministic clustered synthetic corpus,
hash with a FIXED 4 tables × 10 planes, run `search_ann` (Hamming-1
probing) for 50 perturbed corpus queries at τ=0.62, measure recall@15
against the exact `search`, then invert through the hit model

    recall = 1 − (1 − p1)^T,   p1 = p^b + b·p^(b−1)·(1 − p)

for p (bisection; p1 is monotone increasing in p on (0, 1)).

Usage:  PBIT_N=600000 python scripts/measure_pbit.py
Prints one JSON line with the measured recall, inverted p_bit, the
auto_lsh_tables model's predicted p_bit at that N, and host
self-description fields (loadavg / memcpy probe) for artifact honesty.

Disk sizing (round 7, superseded in round 8): the LSH build's shuffle
spill peaked at ~55-80 GB per million rows at F=384 on this harness,
and N=1M attempts filled a 76 GB scratch disk. Round 8 fixed this at
the operator: the build processes hash bands in groups with
parquet-spooled pair output (operators/knn.py), measured 62.7 GB peak
for the FULL 1M build+ANN+energy suite (BENCH_1M_r08.json) vs 78.2 GB
for the aborted ungrouped build alone (BENCH_800k_r08.json). Since
then the bucket shuffle carries narrow (band, key, id) rows and
gathers unit vectors from a scratch spool, so bands are grouped only
above `knn.LSH_GROUP_BYTES` (8 GiB) of that narrow exchange.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.operators.search import search, search_ann
from pyarrowspace_spark.operators.simsearch import (lsh_hyperplanes,
                                                    with_lsh_buckets)
from pyarrowspace_spark.session import get_spark
from pyarrowspace_spark.sources.synth import ensure_clustered_corpus

N_TABLES, N_PLANES, N_QUERIES, TOPK, TAU = 4, 10, 50, 15, 0.62


def invert_pbit(recall: float, n_tables: int, b: int) -> float:
    """p_bit from measured multi-table Hamming-1 recall (bisection)."""
    p1 = 1.0 - (1.0 - min(recall, 1.0 - 1e-12)) ** (1.0 / n_tables)

    def hit(p: float) -> float:
        return p ** b + b * p ** (b - 1) * (1.0 - p)

    lo, hi = 1e-6, 1.0 - 1e-9
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if hit(mid) < p1:
            lo = mid
        else:
            hi = mid
    return 0.5 * (lo + hi)


def main() -> None:
    n = int(os.environ.get("PBIT_N", "600000"))
    out: dict[str, object] = {"n": n, "n_tables": N_TABLES,
                              "n_planes": N_PLANES, "topk": TOPK}
    out["loadavg_start"] = [round(v, 2) for v in os.getloadavg()]
    _buf = np.random.standard_normal(100_000_000 // 8)
    _t0 = time.time()
    _buf2 = _buf.copy()
    out["host_memcpy_gbps"] = round(0.1 / max(time.time() - _t0, 1e-9), 2)
    _t0 = time.time()
    _buf2[:] = _buf  # warm copy: bandwidth without first-touch faults
    out["host_memcpy_warm_gbps"] = round(
        0.1 / max(time.time() - _t0, 1e-9), 2)
    del _buf, _buf2
    _a = np.random.standard_normal((1024, 1024))
    _a @ _a  # BLAS warm-up outside the timing (see bench.py probe)
    _t0 = time.time()
    for _ in range(4):
        _a @ _a
    out["host_gemm_gflops"] = round(
        4 * 2 * 1024**3 / 1e9 / max(time.time() - _t0, 1e-9), 1)
    del _a

    spark = get_spark("pbit-measure")
    import __spark_entry__ as entry_mod

    entry_mod._ship_package(spark)
    cache = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".benchdata")
    path = ensure_clustered_corpus(cache, n=n, f=384)
    big = spark.read.parquet(path).select("item_id", "features")

    t0 = time.time()
    idx = ArrowSpaceBuilder.build(
        big, {"eps": 0.99, "k": 25, "topk": 15, "p": 2.0}, strategy="lsh")
    idx.items.count(), idx.edges.count()
    out["build_sec"] = round(time.time() - t0, 1)

    planes = lsh_hyperplanes(384, n_tables=N_TABLES, n_planes=N_PLANES)
    hashed = with_lsh_buckets(
        idx.items.select("item_id", "features", "e_raw", "g"),
        planes).persist()
    hashed.count()

    qrows = (big.filter(F.col("item_id") < 5 * N_QUERIES)
             .orderBy("item_id").limit(N_QUERIES).collect())
    qmat = np.array([r["features"] for r in qrows]) * 1.05
    qdf = spark.createDataFrame(
        [(int(i), [float(v) for v in qmat[i]]) for i in range(len(qmat))],
        schema="query_id long, features array<double>")

    t0 = time.time()
    exact_sets: dict[int, set] = {}
    for r in search(idx.items, idx.feature_laplacian, qmat, tau=TAU,
                    k=TOPK).select("query_id", "item_id").collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["item_id"])
    out["exact_search_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    ann_sets: dict[int, set] = {}
    for r in search_ann(hashed, idx.feature_laplacian, qdf, tau=TAU,
                        k=TOPK, planes=planes
                        ).select("query_id", "item_id").collect():
        ann_sets.setdefault(r["query_id"], set()).add(r["item_id"])
    out["ann_search_sec"] = round(time.time() - t0, 1)

    recalls = [len(ann_sets.get(q, set()) & hits) / max(len(hits), 1)
               for q, hits in exact_sets.items()]
    recall = float(np.mean(recalls))
    out["recall_at_15"] = round(recall, 4)
    out["p_bit_measured"] = round(invert_pbit(recall, N_TABLES, N_PLANES), 4)

    from pyarrowspace_spark.operators import simsearch as S

    nats = max(0.0, float(np.log(float(n) / S._PBIT_ANCHOR_N)))
    out["p_bit_model"] = round(float(np.clip(
        S._PBIT_ANCHOR - S._PBIT_PER_NAT * nats, 0.55, 0.95)), 4)
    out["auto_tables_at_n"] = S.auto_lsh_tables(
        N_PLANES, target_recall=0.95, n_items=n)
    out["loadavg_end"] = [round(v, 2) for v in os.getloadavg()]

    line = json.dumps(out)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           f"pbit_n{n}.json"), "w") as fh:
        fh.write(line + "\n")
    try:
        spark.stop()
    except Exception:
        pass
    print(line, flush=True)


if __name__ == "__main__":
    main()
