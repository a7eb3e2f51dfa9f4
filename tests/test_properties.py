"""Property-based tests — beyond the reference's own test strategy
(SURVEY §5.7: "No property-based tests"). Two tiers:

- hypothesis over the pure-numpy kernels (fast, hundreds of examples):
  λ-kernel invariants, Lloyd's determinism, hash range.
- seeded-random corpora through the Spark operators, invariants checked
  against independent pure-Python recomputation (one Spark job per
  property, many rows per job — hypothesis-per-example would pay a
  Spark job each shrink step).
"""

import math
import random

import numpy as np
import pytest

try:
    from hypothesis import given, settings, strategies as st
    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

from pyarrowspace_spark.operators import lambda_index as lam_ops
from pyarrowspace_spark.operators.simsearch import lloyd_kmeans


def _random_laplacian(rng: np.random.RandomState, f: int) -> np.ndarray:
    """A valid graph Laplacian over f feature-nodes: PSD, zero row sums."""
    W = rng.rand(f, f) * (rng.rand(f, f) < 0.4)
    W = (W + W.T) / 2.0
    np.fill_diagonal(W, 0.0)
    return np.diag(W.sum(axis=1)) - W


if HAVE_HYP:

    @settings(max_examples=50, deadline=None)
    @given(st.integers(min_value=1, max_value=20),
           st.integers(min_value=2, max_value=12),
           st.integers(min_value=0, max_value=2**31 - 1),
           st.floats(min_value=1e-6, max_value=1.0))
    def test_lambda_kernel_invariants(b, f, seed, tau):
        """e_raw = xᵀLx ≥ 0 for any Laplacian (PSD); g ∈ [0,1]; the
        blend S = τ·E' + (1−τ)·G ∈ [0,1] for blend weights τ ∈ [0,1]
        (outside that range S is an extrapolation and unbounded)."""
        rng = np.random.RandomState(seed)
        X = rng.randn(b, f)
        LF = _random_laplacian(rng, f)
        e_raw, g, s = lam_ops.lambda_kernel(X, LF, tau)
        assert (e_raw >= -1e-9).all()
        assert (g >= 0.0).all() and (g <= 1.0).all()
        assert (s >= 0.0).all() and (s <= 1.0 + 1e-12).all()

    @settings(max_examples=25, deadline=None)
    @given(st.integers(min_value=2, max_value=8),
           st.integers(min_value=10, max_value=60),
           st.integers(min_value=0, max_value=2**31 - 1))
    def test_lloyd_deterministic_and_in_hull(k, n, seed):
        rng = np.random.RandomState(seed)
        X = rng.randn(n, 4)
        c1 = lloyd_kmeans(X, k, seed=42)
        c2 = lloyd_kmeans(X, k, seed=42)
        assert (c1 == c2).all()
        assert c1.shape == (min(k, n), 4)
        assert c1.min() >= X.min() - 1e-12 and c1.max() <= X.max() + 1e-12


def test_kernel_weight_bounds_and_monotone(spark):
    """w = 1/(1+(d/σ)^p) ∈ (0,1], strictly decreasing in d ≥ 0."""
    from pyspark.sql import functions as F
    from pyarrowspace_spark.functions.vector import kernel_weight

    rng = random.Random(7)
    dists = sorted(rng.uniform(0.0, 2.0) for _ in range(300))
    df = spark.createDataFrame([(i, d) for i, d in enumerate(dists)],
                               "i long, dist double")
    rows = df.select("i", kernel_weight("dist", 0.5, 2.0).alias("w")) \
             .orderBy("i").collect()
    ws = [r["w"] for r in rows]
    assert all(0.0 < w <= 1.0 for w in ws)
    assert all(a >= b - 1e-15 for a, b in zip(ws, ws[1:]))


def test_word_ngram_count_property(spark):
    """n_shingles == max(0, n_tokens − n + 1) for random texts."""
    from pyspark.sql import functions as F
    from pyarrowspace_spark.functions import text as T

    rng = random.Random(11)
    words = ["alpha", "b", "gamma7", "x", "delta", "", "Zed"]
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
             for _ in range(200)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    rows = df.select(
        "i", F.size(T.tokens("text")).alias("nt"),
        F.size(T.word_ngrams("text", 3)).alias("ns")).collect()
    for r in rows:
        assert r["ns"] == max(0, r["nt"] - 2), (r, texts[r["i"]])


def test_jaccard_pairs_match_pure_python(spark):
    """ngram_jaccard_pairs == brute-force python set Jaccard on a
    seeded random corpus (exactness, symmetry, thresholding)."""
    from pyarrowspace_spark.operators import dedup as D

    rng = random.Random(23)
    vocab = ["data", "spark", "graph", "vector", "index", "query",
             "table", "scan"]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20)))
             for _ in range(40)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(df, n=3, threshold=0.2).collect()}

    def sh(t):
        tk = [w for w in t.lower().split(" ") if w]
        return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}

    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = sh(texts[a]), sh(texts[b])
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.2:
                want[(a, b)] = j
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_minhash_similarity_estimates_jaccard(spark):
    """Pairs sharing a MinHash band agree on ≥1 permutation minimum —
    and signature agreement rate correlates with true Jaccard: for a
    duplicated doc the full signature matches exactly."""
    from pyarrowspace_spark.operators import dedup as D

    rng = random.Random(31)
    vocab = ["w%d" % i for i in range(30)]
    texts = [" ".join(rng.choice(vocab) for _ in range(30))
             for _ in range(10)]
    texts.append(texts[0])  # exact dup of doc 0 -> doc 10
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    sig = {(r["doc_id"], r["perm"]): r["minhash"]
           for r in D.minhash_signatures(df).collect()}
    n_perm = max(p for _, p in sig) + 1
    assert all(sig[(0, p)] == sig[(10, p)] for p in range(n_perm))
    pairs = {(r["id_a"], r["id_b"])
             for r in D.minhash_band_candidates(df).collect()}
    assert (0, 10) in pairs
