"""SparkSession factory tuned for the pyarrowspace-spark engine.

Defaults are sized for the local[32] test harness but every knob is
chosen to scale to a 1000-executor cluster: AQE on (runtime partition
coalescing + skew-join splitting), Arrow-accelerated Python interop for
the few pandas-UDF kernels, and a modest shuffle-partition default that
AQE re-plans upward under load.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Mirror of the reference's global debug toggle (set_debug,
# src/helpers.rs:12-21): a process-wide flag read by debug_print.
_DEBUG = False


def set_debug(enabled: bool) -> None:
    """Enable/disable engine debug printing (reference set_debug)."""
    global _DEBUG
    _DEBUG = bool(enabled)


def debug_print(msg: str) -> None:
    """stderr printer gated on set_debug (reference src/helpers.rs:17-21)."""
    if _DEBUG:
        import sys

        print(f"[pyarrowspace-spark] {msg}", file=sys.stderr)


def scratch_run_dir(root: str) -> str:
    """Per-PROCESS Spark scratch subdirectory under `root`, with
    pid-scoped reaping of dead runs' leftovers.

    Why not one shared dir: concurrent Spark processes sharing a
    scratch root must never clean each other's live files — a bulk
    `rm blockmgr-*` from one process while another runs kills the
    victim with `FileNotFoundException` on a temp_shuffle file
    mid-write (this exact fingerprint took down a full bench suite;
    reproduced deliberately before this fix). Each process therefore
    gets `root/run-<pid>`, removes it on exit, and on startup reaps
    only `run-<pid>` dirs whose pid is no longer alive plus
    `pyarrowspace-*` spool corpses older than 6 h (live spools are
    self-cleaned eagerly by their owners)."""
    import atexit
    import re
    import shutil
    import time

    os.makedirs(root, exist_ok=True)
    now = time.time()
    for entry in os.listdir(root):
        p = os.path.join(root, entry)
        m = re.match(r"run-(\d+)$", entry)
        if m and not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(p, ignore_errors=True)
        elif entry.startswith("pyarrowspace-"):
            try:
                if now - os.path.getmtime(p) > 6 * 3600:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    d = os.path.join(root, f"run-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    atexit.register(lambda: shutil.rmtree(d, ignore_errors=True))
    return d


def get_spark(
    app_name: str = "pyarrowspace-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Make the package importable on Python workers regardless of the
    # driver's cwd (pandas_udf closures unpickle the module there).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    builder = (
        SparkSession.builder.appName(app_name)
        # Arrow makes pandas_udf/mapInPandas batch transfer columnar.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # AQE: runtime coalescing, skew-join handling, dynamic join planning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Measured negative result (r13-opt, kept so it isn't
        # re-tried): enabling AQE's SMJ→shuffled-hash conversion
        # (maxShuffledHashJoinLocalMapThreshold=64m) made the
        # diffusion step SLOWER — the sort-merge join's sort is
        # accidentally load-bearing for shuffle compression (it
        # clusters the ~k duplicate copies of each source's feature
        # array adjacently, and zstd collapses the runs: the message
        # exchange grew 2.09 → 3.52 GB without it) and the update
        # join's checkpoint stage tripled its task-seconds building
        # hash maps of 3 KB array rows. Sort-merge stays the default.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Broadcast small dimension/query tables aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamps across engines (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # The driver-BLAS tiers legally collect up to the 4 GiB diffuse
        # ceiling; Spark's 1g default would abort those collects
        # mid-job between ~330k and 2M rows at F=384. Tier selection
        # also consults this limit at runtime (functions.matrix.
        # collect_eligible), so a foreign session with the 1g default
        # degrades to the distributed tiers instead of crashing.
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Long multi-phase jobs (the at-scale bench) accumulate shuffle
        # files whose RDDs are unreferenced but not yet JVM-GC'd; a
        # periodic driver GC lets ContextCleaner reclaim that disk
        # instead of letting spill grow monotonically across phases.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Quiet progress bars in test logs.
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark's DataFrame call-site capture: on, every Column API
        # call walks the Python stack and pays py4j round trips, and the
        # first one imports IPython (~540 modules, ~27 MB of driver
        # RSS). `extra_conf` can turn it back on for debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
