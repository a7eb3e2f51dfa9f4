"""The benchmark's workloads. Each drives the package only through its
public functions, looked up on their modules at call time so that the
traced run's wrappers apply.

- build: the write path, as a batch job in a fresh session: set-up is
  only session start and inputs, so the timed builds pay Python-worker
  start and first-use costs as a user's build job does. The cycle
  builds the λτ index over an N=4,000 corpus with the LSH graph
  (forced: the auto switch to LSH sits at 20,000 rows), then the energy
  index over that graph, then answers two single and two 50-query
  `search_energy` requests on the new energy index.
- serve: short requests against prebuilt artifacts. Set-up builds an
  exact-graph index of N=4,000 and hashes it for LSH. Each cycle is a
  seeded shuffle of two single-query and one 50-query `search_ann`, one
  10-query exact `search`, one `extend` of the base index by 256 items
  plus one exact search, and one round of the seven text/dedup catalog
  queries of `__spark_entry__.queries()` over seeded documents, each
  collected to the driver. No build layer runs in the timed phase.

In serve, set-up runs each timed search, extend and catalog path once,
so that no timed request pays a cold start.
"""

from __future__ import annotations

import sys

import numpy as np

import checks
import inputs
from harness import CheckFailed, Request
from spans import CATALOG_QUERIES
from pyarrowspace_spark import builder as builder_mod
from pyarrowspace_spark.operators import energy as energy_mod
from pyarrowspace_spark.operators import search as search_mod
from pyarrowspace_spark.operators import simsearch
from pyarrowspace_spark.params import EnergyParams, GraphParams

GRAPH = GraphParams(eps=0.99, k=25, topk=15, p=2.0)
ENERGY = EnergyParams(eta=0.05, steps=4, optical_tokens=40)
TAU = 0.62
K = 15
N = 4000
# Floors under which a result counts as failed (measured values sit
# well above them; see README.md).
EDGE_RECALL_FLOOR = 0.9
ANN_RECALL_FLOOR = 0.9


def _items(spark, path: str):
    return spark.read.parquet(path).select("item_id", "features")


def _queries(X: np.ndarray, rng, m: int) -> np.ndarray:
    """m distinct corpus vectors, scaled as bench.py's queries are."""
    return X[rng.choice(len(X), size=m, replace=False)] * 1.05


def _materialize_index(ctx, idx) -> None:
    with ctx.span("builder.materialize"):
        idx.items.count()
        idx.edges.count()


def _materialize_energy(ctx, eidx) -> None:
    with ctx.span("energy.materialize"):
        eidx.items.count()
        eidx.centroids.count()


def _no_check(_out) -> None:
    return None


def _collect(ctx, span: str, df) -> list:
    """Collect a lazy search result inside a benchmark-owned span, which
    receives the scoring jobs the search function itself does not run."""
    with ctx.span(span):
        return df.collect()


class Build:
    # work_per_s: corpus items indexed per second of build time, each
    # index counted
    RATED = ("index_build", "energy_build")

    def __init__(self, ctx):
        self.ctx = ctx
        self.idx = self.eidx = None

    def setup(self) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        self.path, _, self.X = inputs.corpus(ctx.cache_dir, N, ctx.seed)
        self.items = _items(spark, self.path)

    def _index(self) -> None:
        self.idx = builder_mod.ArrowSpaceBuilder.build(self.items, GRAPH,
                                                       strategy="lsh")
        _materialize_index(self.ctx, self.idx)

    def _energy(self) -> None:
        self.eidx = energy_mod.build_energy(self.items, ENERGY, GRAPH,
                                            edges=self.idx.edges)
        _materialize_energy(self.ctx, self.eidx)

    def _search(self, kind: str, rng) -> Request:
        Q = _queries(self.X, rng, 1 if kind == "energy_1" else 50)

        def run():
            return _collect(self.ctx, "energy.search_energy.collect",
                            energy_mod.search_energy(
                                self.eidx, Q, k=K,
                                query_ids=list(range(len(Q)))))

        return Request(kind, run,
                       lambda rows: checks.topk_shape(rows, range(len(Q)), K),
                       len(Q))

    def cycle(self, rng) -> list[Request]:
        if self.idx is not None:
            self.ctx.spark.catalog.clearCache()
        searches = [self._search(kind, rng)
                    for kind in ("energy_1", "energy_50") * 2]
        return [Request("index_build", self._index, _no_check, N),
                Request("energy_build", self._energy, _no_check, N),
                *(searches[i] for i in rng.permutation(len(searches)))]

    def verify(self) -> set[str]:
        from bench import _sampled_edge_recall

        bad = set()
        try:
            lam = np.array([r[0] for r in
                            self.idx.items.select("lambda").collect()])
            checks.check_lambdas(lam, N)
            e = self.idx.edges.select("src", "dst", "dist", "weight").toPandas()
            src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
            checks.check_edges(src, dst, e["dist"].to_numpy(),
                               e["weight"].to_numpy(), GRAPH.eps)
            recall = _sampled_edge_recall(self.path, self.idx.edges, GRAPH.eps,
                                          GRAPH.k, seed=self.ctx.seed)
            self.ctx.detail["edge_recall"] = recall
            if recall < EDGE_RECALL_FLOOR:
                raise CheckFailed(f"edge recall {recall:.4f} < "
                                  f"{EDGE_RECALL_FLOOR}")
        except CheckFailed as err:
            print(f"[perfbench] index check failed: {err}", file=sys.stderr)
            bad.add("index_build")
        try:
            rows = self.eidx.items.select("item_id", "centroid_id").collect()
            cids = {r["centroid_id"] for r in rows}
            known = {r[0] for r in
                     self.eidx.centroids.select("centroid_id").collect()}
            if len(rows) != N or len({r["item_id"] for r in rows}) != N:
                raise CheckFailed(f"energy index holds {len(rows)} rows "
                                  f"for {N} items")
            if None in cids or not cids <= known:
                raise CheckFailed("item without a known centroid")
        except CheckFailed as err:
            print(f"[perfbench] energy index check failed: {err}",
                  file=sys.stderr)
            bad.add("energy_build")
        return bad


class Serve:
    N_EXTEND = 256
    N_DOCS = 1000
    N_EMB = 1000
    # The catalog's cold cost is per query plan, not per row: a warm-up
    # round on 50 documents removes it.
    N_WARM_DOCS = 50
    CATALOG = CATALOG_QUERIES
    # request kind -> copies per cycle; "catalog" is one round of all
    # seven catalog queries
    MIX = {"ann_1": 2, "ann_50": 1, "exact_10": 1, "extend_search": 1,
           "catalog": 1}
    # work_per_s: queries answered per second of request time
    RATED = tuple(MIX)

    def __init__(self, ctx):
        self.ctx = ctx
        self.recalls: list[float] = []

    def setup(self) -> None:
        import __spark_entry__ as entry

        ctx, spark = self.ctx, self.ctx.spark
        path, self.ids, self.X = inputs.corpus(ctx.cache_dir, N, ctx.seed)
        self.idx = builder_mod.ArrowSpaceBuilder.build(_items(spark, path),
                                                       GRAPH)
        _materialize_index(ctx, self.idx)
        n_tables = simsearch.auto_lsh_tables(n_planes=10, target_recall=0.95,
                                             n_items=N)
        self.planes = simsearch.lsh_hyperplanes(384, n_tables=n_tables,
                                                n_planes=10, seed=ctx.seed)
        self.hashed = simsearch.with_lsh_buckets(
            self.idx.items.select("item_id", "features", "e_raw", "g"),
            self.planes).persist()
        self.hashed.count()
        # Warm the search and extend paths; the warm-up's rng is not the
        # cycle's.
        warm = np.random.default_rng([ctx.seed, 3])
        for req in (self._ann("ann_1", warm), self._exact(warm, 1),
                    self._extend(warm)):
            req.run()

        self.catalog = entry.queries()
        warm_dir = inputs.text_tables(ctx.cache_dir, self.N_WARM_DOCS,
                                      self.N_WARM_DOCS, ctx.seed)
        for name in self.CATALOG:
            with ctx.span(f"catalog.{name}"):
                (self.catalog[name](spark, warm_dir)
                 .write.format("noop").mode("overwrite").save())
        self.text_dir = inputs.text_tables(ctx.cache_dir, self.N_DOCS,
                                           self.N_EMB, ctx.seed)
        self.catalog_out = {}

    def prepare_checks(self) -> None:
        """Collect the index for the numpy checks."""
        pdf = self.idx.items.select("item_id", "e_raw", "g").toPandas()
        pos = {int(i): n for n, i in enumerate(self.ids)}
        order = np.array([pos[int(i)] for i in pdf["item_id"]])
        self.scorer = checks.ExactScorer(
            pdf["item_id"].to_numpy(), self.X[order], pdf["e_raw"].to_numpy(),
            pdf["g"].to_numpy(), self.idx.feature_laplacian, TAU)

    def _catalog(self) -> None:
        # The last round's outputs are checked against DuckDB in verify().
        for name in self.CATALOG:
            with self.ctx.span(f"catalog.{name}"):
                self.catalog_out[name] = self.catalog[name](
                    self.ctx.spark, self.text_dir).toPandas()

    def _ann(self, kind: str, rng) -> Request:
        Q = _queries(self.X, rng, 1 if kind == "ann_1" else 50)

        def run():
            qdf = self.ctx.spark.createDataFrame(
                [(i, [float(v) for v in q]) for i, q in enumerate(Q)],
                schema="query_id long, features array<double>")
            return _collect(self.ctx, "search.search_ann.collect",
                            search_mod.search_ann(
                                self.hashed, self.idx.feature_laplacian, qdf,
                                tau=TAU, k=K, planes=self.planes))

        def check(rows):
            got = checks.topk_shape(rows, range(len(Q)), K)
            if kind == "ann_50":
                exact = self.scorer.topk(Q, K)
                self.recalls.append(float(np.mean(
                    [len(set(got[q]) & set(exact[q].tolist())) / K
                     for q in range(len(Q))])))
        return Request(kind, run, check, len(Q))

    def _exact(self, rng, m: int = 10) -> Request:
        Q = _queries(self.X, rng, m)

        def run():
            return _collect(self.ctx, "search.search.collect",
                            search_mod.search(self.idx.items,
                                              self.idx.feature_laplacian,
                                              Q, tau=TAU, k=K))

        def check(rows):
            self.scorer.check_equal(Q, checks.topk_shape(rows, range(m), K), K)
        return Request(f"exact_{m}", run, check, len(Q))

    def _extend(self, rng) -> Request:
        base = rng.choice(N, size=self.N_EXTEND, replace=False)
        new = (self.X[base] * 0.9 + rng.standard_normal(
            (self.N_EXTEND, self.X.shape[1])) * 0.05)
        new_ids = np.arange(self.N_EXTEND) + 10 * N
        Q = new[:1] * 1.05

        def run():
            new_df = self.ctx.spark.createDataFrame(
                [(int(i), [float(v) for v in x]) for i, x in zip(new_ids, new)],
                schema="item_id long, features array<double>")
            ext = builder_mod.ArrowSpaceBuilder.extend(self.idx, new_df)
            return _collect(self.ctx, "search.search.collect",
                            search_mod.search(ext.items, ext.feature_laplacian,
                                              Q, tau=TAU, k=K))

        def check(rows):
            if int(new_ids[0]) not in checks.topk_shape(rows, [0], K)[0]:
                raise CheckFailed("extended item missing from the search "
                                  "for its own vector")
        return Request("extend_search", run, check, 1)

    def _request(self, kind: str, rng) -> Request:
        if kind == "catalog":
            return Request(kind, self._catalog, _no_check, len(self.CATALOG))
        if kind == "exact_10":
            return self._exact(rng)
        if kind == "extend_search":
            return self._extend(rng)
        return self._ann(kind, rng)

    def cycle(self, rng) -> list[Request]:
        kinds = [k for k, n in self.MIX.items() for _ in range(n)]
        return [self._request(kinds[i], rng) for i in rng.permutation(len(kinds))]

    def verify(self) -> set[str]:
        bad = set()
        recall = float(np.mean(self.recalls)) if self.recalls else 0.0
        self.ctx.detail["ann_recall_at_15"] = recall
        if recall < ANN_RECALL_FLOOR:
            print(f"[perfbench] ANN recall@15 {recall:.4f} < "
                  f"{ANN_RECALL_FLOOR}", file=sys.stderr)
            bad.add("ann_50")
        return bad | self._verify_catalog()

    def _verify_catalog(self) -> set[str]:
        """Each catalog query's output from the last timed round against
        its DuckDB twin, compared as check_oracle.py does."""
        import duckdb

        import __spark_entry__ as entry
        from check_oracle import normalize

        # oracle_sql() also renders the IVF and energy-search entries,
        # whose literals are trained on fixed test data outside this
        # checkout. Only the text/dedup entries are used here, so those
        # two renderers are stubbed while the dict is built.
        saved = entry._sql_ivf_ann, entry._sql_energy_search
        entry._sql_ivf_ann = entry._sql_energy_search = lambda: ""
        try:
            oracles = entry.oracle_sql()
        finally:
            entry._sql_ivf_ann, entry._sql_energy_search = saved
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.text_dir}/{t}.parquet'")
        bad = set()
        for name, out in self.catalog_out.items():
            s, o = normalize(out), normalize(con.execute(oracles[name]).df())
            if list(s.columns) != list(o.columns) or not s.equals(o):
                print(f"[perfbench] {name}: Spark and DuckDB differ "
                      f"({len(s)} vs {len(o)} rows)", file=sys.stderr)
                bad.add("catalog")
        con.close()
        return bad


WORKLOADS = {"build": Build, "serve": Serve}
