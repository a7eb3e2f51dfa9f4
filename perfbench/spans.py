"""Per-layer tracing for the traced run (--trace 1).

`Tracer.install()` wraps the package's module attributes listed in
`PATCHES`; the benchmark's own files add the remaining spans
(`builder.materialize`, `energy.materialize`, the three `*.collect`
spans and `catalog.<query>`). Every
span instance sets its own Spark job group, so each job the span's code
triggers is attributed to it. After the run, job and stage metrics are
read back from the status REST endpoint (the one
`operators.knn._completed_stages` reads).

Spark is lazy: a span records only the jobs its own actions trigger.
Deferred work lands in the span that runs the action, e.g. the
exact-path kNN scan runs inside `lambda_index.feature_laplacian`'s edge
collect. The search functions are lazy, so their scoring jobs run in
the caller's `collect()`, which the benchmark wraps in its own
`search.search.collect`, `search.search_ann.collect` and
`energy.search_energy.collect` spans.

Span quantities: `wall_s` is inclusive wall time, `self_s` excludes
the wall time of child spans, `task_s` / `shuffle_write_mb` are summed over the stages of the span's jobs and its children's jobs,
and `core_util` = task_s / (wall_s * cores). Spans cover set-up and the
timed phase; the `spark.*` counters and `driver.no_job_s` cover the
timed phase only.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

# (module, class or None, attribute, span name)
PATCHES = [
    ("pyarrowspace_spark.builder", "ArrowSpaceBuilder", "build", "builder.build"),
    ("pyarrowspace_spark.builder", "ArrowSpaceBuilder", "extend", "builder.extend"),
    ("pyarrowspace_spark.operators.knn", None, "knn_edges", "knn.knn_edges"),
    ("pyarrowspace_spark.operators.lambda_index", None, "feature_laplacian",
     "lambda_index.feature_laplacian"),
    ("pyarrowspace_spark.operators.lambda_index", None,
     "with_energy_components", "lambda_index.with_energy_components"),
    ("pyarrowspace_spark.operators.simsearch", None, "with_lsh_buckets",
     "simsearch.with_lsh_buckets"),
    ("pyarrowspace_spark.operators.simsearch", None, "lloyd_kmeans",
     "simsearch.lloyd_kmeans"),
    ("pyarrowspace_spark.operators.search", None, "search", "search.search"),
    ("pyarrowspace_spark.operators.search", None, "search_ann",
     "search.search_ann"),
    ("pyarrowspace_spark.operators.energy", None, "build_energy",
     "energy.build_energy"),
    ("pyarrowspace_spark.operators.energy", None, "trim_edges",
     "energy.trim_edges"),
    ("pyarrowspace_spark.operators.energy", None, "diffuse", "energy.diffuse"),
    ("pyarrowspace_spark.operators.energy", None, "search_energy",
     "energy.search_energy"),
]

LAYER_SPANS = [
    "builder.build", "builder.materialize", "builder.extend",
    "knn.knn_edges",
    "lambda_index.feature_laplacian", "lambda_index.with_energy_components",
    "simsearch.with_lsh_buckets", "simsearch.lloyd_kmeans",
    "search.search", "search.search_ann",
    "energy.build_energy", "energy.trim_edges", "energy.diffuse",
    "energy.materialize", "energy.search_energy",
]
# Leaf spans around the collects that run the searches' scoring jobs;
# their self_s equals their wall_s.
COLLECT_SPANS = ["search.search.collect", "search.search_ann.collect",
                 "energy.search_energy.collect"]
CATALOG_QUERIES = (
    "dedup_exact", "text_stats", "minhash_signatures", "minhash_band_pairs",
    "ngram_jaccard", "simhash", "embedding_near_dups",
)
# Spill is reported workload-wide only (spark.spill_mb): no span
# spills at these sizes.
LAYER_QUANTITIES = [("wall_s", "s"), ("self_s", "s"), ("task_s", "s"),
                    ("shuffle_write_mb", "MB"), ("core_util", "ratio")]
COLLECT_QUANTITIES = [("wall_s", "s"), ("task_s", "s"),
                      ("shuffle_write_mb", "MB"), ("core_util", "ratio")]
CATALOG_QUANTITIES = [("wall_s", "s"), ("task_s", "s"), ("core_util", "ratio")]
WORKLOAD_METRICS = [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("driver.no_job_s", "s"),
    ("jvm.peak_rss_mb", "MB"), ("scratch.leaked_dirs", "count"),
    ("trace.overhead_pct", "%"),
]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), in BENCHMARK.json order."""
    out = [(f"{s}.{q}", u) for s in LAYER_SPANS for q, u in LAYER_QUANTITIES]
    out += [(f"{s}.{q}", u) for s in COLLECT_SPANS for q, u in COLLECT_QUANTITIES]
    out += [(f"catalog.{c}.{q}", u)
            for c in CATALOG_QUERIES for q, u in CATALOG_QUANTITIES]
    return out + WORKLOAD_METRICS


@dataclass
class _Span:
    name: str
    group: str
    parent: "_Span | None"
    phase: str
    t0: float
    t1: float = 0.0
    children: list = field(default_factory=list)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
                             ).replace(tzinfo=timezone.utc).timestamp()


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[_Span] = []
        self.stack: list[_Span] = []
        self.overhead_s = 0.0  # bookkeeping time inside the timed phase
        self._saved: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def _enter(self, name: str, phase: str | None = None) -> _Span | None:
        t = time.perf_counter()
        if any(s.name == name for s in self.stack):
            return None  # a recursive call stays inside the outer span
        parent = self.stack[-1] if self.stack else None
        sp = _Span(name, f"perfbench-{len(self.spans)}", parent,
                   phase or (parent.phase if parent else "untraced"),
                   time.time())
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        if sp.phase == "timed":
            self.overhead_s += time.perf_counter() - t
        return sp

    def _exit(self, sp: _Span | None) -> None:
        if sp is None:
            return
        t = time.perf_counter()
        sp.t1 = time.time()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        if sp.phase == "timed":
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self._enter(name)
        try:
            yield
        finally:
            self._exit(sp)

    @contextlib.contextmanager
    def phase(self, name: str):
        sp = self._enter(f"phase.{name}", phase=name)
        try:
            yield
        finally:
            self._exit(sp)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        for mod_name, cls_name, attr, name in PATCHES:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls_name) if cls_name else mod
            raw = owner.__dict__[attr]
            self._saved.append((owner, attr, raw))
            if isinstance(raw, staticmethod):
                setattr(owner, attr,
                        staticmethod(self._wrap(raw.__func__, name)))
            else:
                setattr(owner, attr, self._wrap(raw, name))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    # -- metrics -------------------------------------------------------
    def _rest(self, path: str) -> list[dict]:
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{self.sc.applicationId}/{path}")
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def collect(self, tw0: float, tw1: float, leaked: int,
                jvm_rss_mb: float) -> dict:
        """Per-layer metrics as {name: (value, unit)}."""
        jobs = self._rest("jobs")
        stages = [s for s in self._rest("stages")
                  if s.get("status") != "SKIPPED"]
        # A stage runs once, for the first job that needs it; later jobs
        # list it as skipped.
        first_job: dict[int, dict] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j.get("stageIds", []):
                first_job.setdefault(sid, j)
        own: dict[str, list[float]] = {}  # group -> [task, gc, shuf, spill, tasks]
        for st in stages:
            j = first_job.get(st["stageId"])
            if j is None:
                continue
            acc = own.setdefault(j.get("jobGroup") or "", [0.0] * 5)
            acc[0] += st.get("executorRunTime", 0) / 1e3
            acc[1] += st.get("jvmGcTime", 0) / 1e3
            acc[2] += st.get("shuffleWriteBytes", 0) / 2**20
            acc[3] += st.get("diskBytesSpilled", 0) / 2**20
            acc[4] += st.get("numCompleteTasks", 0)

        def inclusive(sp: _Span) -> list[float]:
            acc = list(own.get(sp.group, [0.0] * 5))
            for ch in sp.children:
                acc = [a + b for a, b in zip(acc, inclusive(ch))]
            return acc

        agg: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp.phase not in ("setup", "timed") or sp.name.startswith("phase."):
                continue
            wall = sp.t1 - sp.t0
            task, _, shuf, _, _ = inclusive(sp)
            a = agg.setdefault(sp.name, dict.fromkeys(
                ("wall_s", "self_s", "task_s", "shuffle_write_mb"), 0.0))
            a["wall_s"] += wall
            a["self_s"] += wall - sum(c.t1 - c.t0 for c in sp.children)
            a["task_s"] += task
            a["shuffle_write_mb"] += shuf

        out: dict[str, tuple[float, str]] = {}
        for name, unit in per_layer_names():
            span, q = name.rsplit(".", 1)
            a = agg.get(span)
            if a is None:
                out[name] = (0.0, unit)
            elif q == "core_util":
                out[name] = (a["task_s"] / (a["wall_s"] * self.cores)
                             if a["wall_s"] > 0 else 0.0, unit)
            elif q in a:
                out[name] = (a[q], unit)

        timed_groups = {sp.group for sp in self.spans if sp.phase == "timed"}
        wide = [0.0] * 5
        for g in timed_groups:
            wide = [a + b for a, b in zip(wide, own.get(g, [0.0] * 5))]
        timed_jobs = [j for j in jobs if j.get("jobGroup") in timed_groups]
        busy, end = 0.0, tw0
        for s, e in sorted((max(tw0, _ts(j["submissionTime"])),
                            min(tw1, _ts(j["completionTime"])))
                           for j in timed_jobs if "completionTime" in j):
            if e > max(s, end):
                busy += e - max(s, end)
                end = e
        out.update({
            "spark.jobs": (float(len(timed_jobs)), "count"),
            "spark.tasks": (wide[4], "count"),
            "spark.task_s": (wide[0], "s"),
            "spark.gc_s": (wide[1], "s"),
            "spark.shuffle_write_mb": (wide[2], "MB"),
            "spark.spill_mb": (wide[3], "MB"),
            "driver.no_job_s": ((tw1 - tw0) - busy, "s"),
            "jvm.peak_rss_mb": (jvm_rss_mb, "MB"),
            "scratch.leaked_dirs": (float(leaked), "count"),
            "trace.overhead_pct": (100.0 * self.overhead_s / (tw1 - tw0), "%"),
        })
        return out
