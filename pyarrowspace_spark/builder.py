"""Public build API mirroring the reference's ArrowSpaceBuilder
(src/lib.rs:270-300) re-expressed as Spark batch jobs.

`build()` returns an `ArrowSpaceIndex`: the items DataFrame with a
materialized `lambda` column, the λτ-graph edge list, the broadcastable
F×F feature Laplacian, and the build config — index artifacts are
first-class values, exactly like the reference returning
(ArrowSpace, GraphLaplacian) as a pair.

Lifecycle as a Spark DAG (SURVEY §3.1):
  stage 1  ingest + validate (narrow)
  stage 2  kNN candidates (exact cross-join or LSH bucket join; shuffle)
  stage 3  eps filter → per-node top-k → symmetrize (shuffle on src)
  stage 4  degree aggregation (shuffle)
  stage 5  one census (N, E) picks the λ tier by the one driver-tier
           rule (`matrix.driver_fits`). Driver pass: X and the edges
           collected once, L_F, e_raw/g and τ in numpy, one handoff
           back with λ blended JVM-side. Beyond it: the F×F feature
           Laplacian (spool partials → driver, F² doubles per
           partition — independent of N) and the λ column (narrow,
           broadcast L_F)
  stage 6  optional Parquet persist ("index tables")
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .params import GraphParams, EnergyParams
from . import spool
from .session import debug_print
from .functions import matrix
from .operators import knn as knn_ops
from .operators import lambda_index as lam_ops


@dataclass
class ArrowSpaceIndex:
    """The (ArrowSpace, GraphLaplacian) pair as Spark-native artifacts."""

    items: DataFrame          # [item_id, features, e_raw, g, lambda]
    edges: DataFrame          # [src, dst, dist, weight]  (src < dst)
    feature_laplacian: np.ndarray  # F×F, broadcast at query time
    params: GraphParams
    tau_synth: float          # Median-synthesized τ used for stored λ
    n_features: int
    _nitems: int | None = None  # lazily cached count
    #: Measured record of THIS build's LSH pair stage (group count,
    #: spool bytes, per-stage metrics — the `info` dict
    #: `knn.knn_edges` fills), None when the build ran the exact
    #: strategy or was given its edges. Session-only instrumentation
    #: (not persisted by save): the deterministic plan twin is the
    #: `lsh_plan` build_diagnostics section.
    lsh_build_info: dict | None = None

    @property
    def nitems(self) -> int:
        """Item count — computed once and cached (a Spark job per
        property access otherwise, VERDICT r2 'What's wrong' #5)."""
        if self._nitems is None:
            self._nitems = self.items.count()
        return self._nitems

    @property
    def nfeatures(self) -> int:
        return self.n_features

    def lambdas(self) -> DataFrame:
        """λ vector accessor (reference src/lib.rs:117-124)."""
        return self.items.select("item_id", "lambda")

    def get_item(self, item_id: int) -> list[float]:
        """Row-vector accessor (reference ArrowSpace.get_item,
        src/lib.rs:78-97). Driver-side single-row lookup."""
        row = self.items.filter(
            self.items["item_id"] == int(item_id)).select("features").first()
        if row is None:
            raise IndexError(f"item_id {item_id} not in index")
        return list(row["features"])

    @property
    def nnodes(self) -> int:
        """Item-graph node count (reference GraphLaplacian.nnodes,
        src/lib.rs:40-47): nodes that carry at least one edge."""
        from pyspark.sql import functions as F

        return (
            self.edges.select(F.col("src").alias("n"))
            .unionAll(self.edges.select(F.col("dst").alias("n")))
            .distinct().count()
        )

    def shape(self) -> tuple[int, int]:
        """Feature-Laplacian shape (reference GraphLaplacian.shape(),
        src/lib.rs:48-52)."""
        return tuple(self.feature_laplacian.shape)

    def graph_params(self) -> dict:
        """Self-describing index metadata (reference gl.graph_params,
        src/lib.rs:49-61)."""
        return self.params.to_dict()

    def save(self, path: str, table_prefix: str | None = None,
             n_buckets: int = 32) -> None:
        """Persist index tables + config as Parquet.

        With `table_prefix`, items/edges are written as BUCKETED,
        sorted catalog tables (`{prefix}_items` bucketed by item_id,
        `{prefix}_edges` by src): any later self-join / id-join against
        the saved index — search joins, edge gathers, incremental
        extends — reads co-located buckets and skips the shuffle
        exchange entirely (verified by a plan test). Size `n_buckets`
        to ~executor-count at the target scale. Plain path-based
        parquet (no catalog dependency) remains the default."""
        if table_prefix:
            (self.items.write.mode("overwrite").format("parquet")
             .bucketBy(int(n_buckets), "item_id").sortBy("item_id")
             .option("path", f"{path}/items")
             .saveAsTable(f"{table_prefix}_items"))
            (self.edges.write.mode("overwrite").format("parquet")
             .bucketBy(int(n_buckets), "src").sortBy("src")
             .option("path", f"{path}/edges")
             .saveAsTable(f"{table_prefix}_edges"))
        else:
            self.items.write.mode("overwrite").parquet(f"{path}/items")
            self.edges.write.mode("overwrite").parquet(f"{path}/edges")
        spark = self.items.sparkSession
        matrix.laplacian_to_parquet(spark, self.feature_laplacian,
                                    f"{path}/feature_laplacian")
        meta = dict(self.params.to_dict(), tau_synth=self.tau_synth,
                    n_features=self.n_features)
        spark.createDataFrame([meta]).write.mode("overwrite").json(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "ArrowSpaceIndex":
        """Reopen a saved index: tables stay lazy/distributed, only the
        F×F Laplacian and metadata hit the driver."""
        lf = matrix.laplacian_from_parquet(spark,
                                           f"{path}/feature_laplacian")
        meta = spark.read.json(f"{path}/meta").collect()[0].asDict()
        # normalise/seed are load-bearing for extend(): a normalise=True
        # index reopened without them would append un-normalized vectors
        # whose e_raw/λ are inconsistent with the stored items.
        params = GraphParams(
            eps=float(meta["eps"]), k=int(meta["k"]), topk=int(meta["topk"]),
            p=float(meta["p"]),
            sigma=(float(meta["sigma"]) if meta.get("sigma") is not None
                   else None),
            normalise=bool(meta.get("normalise") or False),
            seed=int(meta.get("seed") if meta.get("seed") is not None else 42),
        )
        return cls(
            items=spark.read.parquet(f"{path}/items"),
            edges=spark.read.parquet(f"{path}/edges"),
            feature_laplacian=lf,
            params=params,
            tau_synth=float(meta["tau_synth"]),
            n_features=int(meta["n_features"]),
        )


def _lambda_on_driver(base: DataFrame, edges: DataFrame
                      ) -> "tuple[DataFrame, np.ndarray, float]":
    """The build's λ stages in one driver pass: X and the edges are
    collected once (`matrix.collect_graph`), L_F comes from
    `laplacian_from_edges`, (e_raw, g) and τ_synth from
    `lambda_index.driver_components`, and the items go back as one
    eager-released handoff, cast to `base`'s column types, with λ
    blended JVM-side. Returns (items, L_F, τ_synth); the items are
    id-sorted."""
    spark = base.sparkSession
    s_ids, X, si, di, w = matrix.collect_graph(base, edges)
    lf = lam_ops.laplacian_from_edges(X, si, di, w)
    del si, di, w
    # base is non-empty (the census checked), so the median exists
    e_raw, g, tau_synth = lam_ops.driver_components(X, lf)
    comp = matrix.matrix_to_frame(
        spark, s_ids, X, eager_release=True,
        scalars={"e_raw": e_raw, "g": g},
        parts=int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    indexed = comp.select(
        *[F.col(f.name).cast(f.dataType) for f in base.schema.fields],
        "e_raw", "g", lam_ops.blend_lambda_cols(
            F.col("e_raw"), F.col("g"), tau_synth).alias("lambda"))
    return indexed, lf, tau_synth


class ArrowSpaceBuilder:
    """Mirror of reference ArrowSpaceBuilder (src/lib.rs:270-300)."""

    @staticmethod
    def build(
        items: DataFrame,
        graph_params: "dict | GraphParams | str",
        id_col: str = "item_id",
        feat_col: str = "features",
        strategy: str = "auto",
        sample_rate: float | None = None,
        seed: int = 42,
        lsh_bits: int | None = None,
        lsh_bands: int | None = None,
        dims_reduction: bool = False,
        dims_k: int | None = None,
        edges: DataFrame | None = None,
    ) -> ArrowSpaceIndex:
        """`edges` reuses an already-built λτ-graph (e.g. a saved
        `ArrowSpaceIndex.edges` parquet) instead of running the kNN
        stage — the standard-build twin of `build_energy(edges=...)`'s
        one-graph-two-indexes contract. The λ/L_F/τ stages run as
        usual against the given graph; the caller is responsible for
        the edge list matching `graph_params` and the item set (a
        mismatched graph yields a well-formed index over the wrong
        topology — assert provenance where it matters, as
        scripts/measure_1m.py's params sidecar does).

        `sample_rate` mirrors the reference's inline sampler
        ("Simple random sampler with keep rate 60.0%", log
        tests/output/1760705545_v0_16/suggested_eps.md:6, builder hook
        with_inline_sampling src/lib.rs:284): the GRAPH stages run on a
        seeded sample, but λ is still materialized for EVERY item
        (lambdas_len == nitems in the reference logs) against the
        sampled graph's feature Laplacian.

        `dims_reduction` mirrors the reference's
        ``with_dims_reduction(true, Some(eps))`` hook (src/lib.rs:282):
        the kNN GRAPH stage runs on a deterministic Rademacher random
        projection of the vectors (`operators/dimred.random_project`) to
        ``dims_k`` dims (auto: max(8, F//8) capped at 64) — at F=384
        that cuts the candidate-gemm cost ~6-12× for a documented small
        distance distortion. λ, the feature Laplacian, and every stored
        artifact stay full-F, so the index shape and search API are
        unchanged. Default OFF: the crate's internal reduction algorithm
        is unpublished, and docs/GOLDEN_PARITY.md records the experiment
        log showing no reduction variant reproduces the reference's
        τ=0.6/0.55 golden — so we surface the hook without pretending to
        replicate its exact numerics."""
        if isinstance(graph_params, str):
            # Self-tuning build (reference runs auto-K + eps suggestion
            # INSIDE the build, log suggested_eps.md:7-12): k from the
            # connectivity rule, eps calibrated on a bounded sample of
            # the engine's own distance — see dimred.auto_graph_params.
            if graph_params != "auto":
                raise ValueError(
                    f"graph_params must be a dict, GraphParams, or "
                    f"'auto' (got {graph_params!r})")
            from .operators.dimred import auto_graph_params

            params = auto_graph_params(items, id_col, feat_col)
            debug_print(f"auto graph params: {params.to_dict()}")
        elif isinstance(graph_params, GraphParams):
            params = graph_params
        else:
            params = GraphParams.from_dict(graph_params)
        # Spool-source provenance — resolved BEFORE base.persist():
        # caching substitutes InMemoryRelation into the SOURCE df's
        # optimized plan via plan-fragment matching, which the trivial-
        # scan whitelist (correctly) rejects; checked here the plan is
        # still the bare parquet scan. Only handed to the λ spool tier
        # below if the graph ran on the untransformed input.
        x_src = None
        if not params.normalise:
            x_src = spool.parquet_scan_source(items, id_col, feat_col)
        base = items.select(
            F.col(id_col).alias("item_id"), F.col(feat_col).alias("features")
        )
        if params.normalise:
            # Unit-norm pre-normalization (P1, GRAPH_VARIABLES.md:3):
            # graph topology is cosine-invariant to this, but the STORED
            # vectors — and therefore e_raw/λ downstream — change
            # (reference NORMALISATION.md "Downstream Spectral Analysis").
            from .functions import vector as V

            base = base.withColumn("features", V.l2_normalize("features"))
        # Ensure the corpus scan's EFFECTIVE parallelism before caching
        # it: a single-row-group parquet (every driver testdata file,
        # and the synth bench corpus before r13) is unsplittable, so
        # without this every corpus pass of the build — hashing, the λ
        # kernel, magnitude stats — ran on ONE task while 31 cores
        # idled (measured: 31 tasks at 0.25 s, one at 78 s). The cache
        # then preserves the balanced layout for every downstream pass.
        base = matrix.with_scan_parallelism(base, int(
            items.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                        "32")))
        # Edges + λ both traverse base twice — cache across the build.
        base = base.persist()
        # the input contract: ragged, null or zero-length rows and null
        # ids raise before the graph stage reads base
        try:
            n_rows, n_features, _ = matrix.census(base)
            if n_rows == 0:
                raise ValueError(
                    "items must be a non-empty DataFrame of non-empty "
                    "vectors")
        except ValueError:
            base.unpersist()
            raise

        graph_input, graph_shape = base, (n_rows, n_features)
        sample = None
        if sample_rate is not None and sample_rate < 1.0:
            sample = graph_input = base.sample(
                withReplacement=False, fraction=float(sample_rate),
                seed=int(seed)).persist()
            graph_shape = None

        graph_feat = "features"
        if dims_reduction:
            from .operators import dimred

            k_red = dims_k if dims_k is not None else max(
                8, min(64, n_features // 8))
            if k_red < n_features:
                graph_input = dimred.random_project(
                    graph_input, k_red, n_features,
                    feat_col="features", out_col="_graph_feat")
                graph_feat = "_graph_feat"
                if graph_shape is not None:
                    graph_shape = (n_rows, k_red)
                debug_print(
                    f"build: dims_reduction on — graph stage at k={k_red} "
                    f"of F={n_features}")

        lsh_info: dict = {}
        if edges is not None:
            edges = edges.persist()
        else:
            # x_src (trivial-scan provenance, resolved above) also
            # feeds the LSH build's U spool: the spool streams straight
            # from the corpus parquet instead of `spool.write`'s other
            # sources. Only valid when the graph runs on the
            # untransformed input — the same condition the λ spool tier
            # checks below.
            knn_x_src = (x_src if (graph_input is base
                                   and graph_feat == "features") else None)
            edges = knn_ops.knn_edges(graph_input, params,
                                      strategy=strategy,
                                      feat_col=graph_feat,
                                      lsh_bits=lsh_bits,
                                      lsh_bands=lsh_bands,
                                      shape=graph_shape,
                                      x_source=knn_x_src,
                                      info=lsh_info).persist()
        # λ spool source: stream the X spool from the corpus
        # parquet only when the graph ran on the UNTRANSFORMED input
        # (no sample/projection; normalise already gated x_src above)
        # — values identical, the scan is a proven pure projection.
        if not (graph_input is base and graph_feat == "features"):
            x_src = None
        # ONE census over the graph's items and its edges (it also
        # materializes the edge cache) picks the λ tier by the one
        # driver-tier rule, priced at every item the pass holds
        spark = items.sparkSession
        n_graph, _, n_edges = matrix.census(graph_input, edges)
        if matrix.driver_fits(spark, n_rows, n_features, n_edges,
                              handoff=True):
            indexed, lf, tau_synth = _lambda_on_driver(base, edges)
            base.unpersist()
        else:
            lf = lam_ops.feature_laplacian(graph_input, edges, n_features,
                                           x_source=x_src,
                                           counts=(n_graph, n_edges))
            # ONE Python kernel pass computes the τ-independent
            # (e_raw, g); τ-synthesis and the λ blend are JVM-side over
            # its cache, which the median materializes: base is dead.
            comp, median = lam_ops.components_with_median(base, lf, n_rows)
            base.unpersist()
            tau_synth = float(median) if median is not None else 0.0
            # Keep the τ-independent components IN the index: λ at any
            # search-time τ is then a JVM expression — search never
            # pays a Python pass over the corpus (reference recomputes
            # item λ per search call with the caller's τ, TAUMODE.md).
            indexed = lam_ops.blend(comp, tau_synth)
        if sample is not None:
            # its last reader, the census or the λ spool tier, has run
            sample.unpersist()
        debug_print(
            f"build: eps={params.eps} k={params.k} sigma={params.sigma} "
            f"F={n_features} tau_synth(Median)={tau_synth}")
        if not (tau_synth > 0.0):
            # Degenerate spectrum: eps admitted no (or only disconnected)
            # edges, so every Rayleigh energy is 0. The reference panics
            # at query time (src/lib.rs:156-159); we fail the build with
            # actionable stats instead (SURVEY §7.3 risk 7).
            raise ValueError(
                f"degenerate index: median Rayleigh energy is {tau_synth} "
                f"({n_edges} graph edges at eps={params.eps}). Increase eps "
                f"(rectified-cosine distances lie in [0,1]) or rescale the "
                f"input vectors (reference tests use x12/x100)."
            )

        return ArrowSpaceIndex(
            items=indexed,
            edges=edges,
            feature_laplacian=lf,
            params=params,
            tau_synth=tau_synth,
            n_features=n_features,
            lsh_build_info=lsh_info or None,
        )

    @staticmethod
    def extend(
        index: ArrowSpaceIndex,
        new_items: DataFrame,
        id_col: str = "item_id",
        feat_col: str = "features",
    ) -> ArrowSpaceIndex:
        """Batch incremental index maintenance: λ-index `new_items`
        against the FROZEN base artifacts (broadcast L_F + the build's
        τ_synth) and append them to the items table — the batch twin of
        streaming/index_stream.incremental_lambda_stream, with the same
        contract: graph/L_F/τ stay frozen (a narrow, shuffle-free pass,
        so extend cost is O(new items) regardless of index size), and a
        periodic full rebuild re-absorbs drift — the standard
        insert-then-rebuild index maintenance split.

        New vectors must match the index's nfeatures; normalise is
        applied if the base index was built with it.
        """
        indexed = lam_ops.indexed_batch(
            new_items, index.feature_laplacian, index.tau_synth,
            index.params.normalise, id_col, feat_col)
        if indexed is None:
            return index
        return ArrowSpaceIndex(
            items=index.items.unionByName(indexed),
            edges=index.edges,
            feature_laplacian=index.feature_laplacian,
            params=index.params,
            tau_synth=index.tau_synth,
            n_features=index.n_features,
        )

    @staticmethod
    def extend_energy(
        index,
        new_items: DataFrame,
        id_col: str = "item_id",
        feat_col: str = "features",
        refresh_centroid_attrs: bool = True,
    ):
        """Incremental energy-index maintenance — the energy twin of
        `extend`, same frozen-artifact O(new items) contract (graph,
        L_F, τ_synth, and centroid CENTERS stay frozen; scalar centroid
        moments are refreshed for affected centroids only by default).
        See `operators/energy.extend_energy` for full semantics."""
        from .operators import energy as energy_ops

        return energy_ops.extend_energy(
            index, new_items, id_col=id_col, feat_col=feat_col,
            refresh_centroid_attrs=refresh_centroid_attrs)

    @staticmethod
    def build_energy(
        items: DataFrame,
        energy_params: dict | EnergyParams | None = None,
        graph_params: dict | GraphParams | None = None,
        id_col: str = "item_id",
        feat_col: str = "features",
        edges: DataFrame | None = None,
    ):
        """Energy pipeline (reference src/lib.rs:332-376) — implemented
        in operators/energy.py; imported lazily to keep the standard
        path import-light.

        Pass ``edges`` (e.g. ``ArrowSpaceIndex.edges`` from a standard
        build over the SAME items/params) to reuse an already-built
        λτ-graph: one-graph-two-indexes without importing the operator
        module. With the exact strategy the reused edge list is
        value-identical to the one this build would produce; under LSH
        both indexes share the same approximate graph."""
        from .operators import energy as energy_ops

        eparams = (
            energy_params
            if isinstance(energy_params, EnergyParams)
            else EnergyParams.from_dict(energy_params)
        )
        gparams = (
            graph_params
            if isinstance(graph_params, GraphParams)
            else GraphParams.from_dict(graph_params)
            if graph_params
            else GraphParams(eps=1e-3, k=6, topk=10)
        )
        return energy_ops.build_energy(items, eparams, gparams,
                                       id_col=id_col, feat_col=feat_col,
                                       edges=edges)
