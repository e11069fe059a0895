"""SparkSession factory with scale-appropriate defaults.

The reference creates a bare session (event_verify.py:13-15) and relies on
cluster-level config. Here every knob that matters for a 1000-executor /
100 TB deployment is set explicitly, with local-mode overrides for tests:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast demotion) so plans self-correct at scale.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster you'd size it to ~2-3x total executor cores (or leave AQE's
  ``coalescePartitions`` to shrink an intentionally-high value).
- UTC session timezone so timestamp semantics match DuckDB / Parquet.
- Arrow enabled for any pandas interchange (vectorized batches, not rows).
- Python workers run ``sparkgraft._pydaemon`` (see its docstring) and
  find ``sparkgraft`` on their PYTHONPATH, whatever the working directory.
- 2 MB Tungsten pages (``spark.buffer.pageSize``). Every hashed
  relation, hash aggregate and sorter takes one whole page on its first
  insert, and Spark's default page is nextPow2(execution memory / cores
  / 16): 16 MB on a 2 GB / 4-core driver, the 64 MB cap on a 48 GB /
  32-core one. So a 10-row broadcast or aggregate held 16-64 MB, and on
  a 2 GB heap (1 MB G1 regions) each page is a humongous allocation
  outside eden whose footprint stays in RSS. State that grows past a
  page takes more pages. Measured only on a 4-vCPU host with a 2 GB
  driver: 1, 2 and 4 MB pages gave the same RSS, and the aggregation-
  and sort-heavy ``tools/scale_slope.py`` queries stayed within noise
  at 8x sf0.1. The 32-core host is not measured.
- G1 with the young generation capped at 25% of the heap
  (``-XX:G1MaxNewSizePercent=25``, an experimental flag, hence
  ``-XX:+UnlockExperimentalVMOptions``): 512 MB of a 2 GB heap, 12 GB
  of a 48 GB one. The daily job's live heap is 100-150 MB, but G1
  sizes eden by its pause goal alone, and with ~20 ms young pauses it
  grew eden to its 60% maximum (1.2 GB of a 2 GB heap); the first
  warm pass touched every page of it, and the pages stayed resident.
  Below the cap G1 still sizes young by the 200 ms pause goal. Measured
  only on a 4-vCPU host with a 2 GB driver (``perfbench/run.py``, 10
  and 6 alternating pairs): median peak RSS fell from 1,858 to
  1,138 MB (-38.7%) on ``conformance_bulk`` and from 2,531 to 1,750 MB
  (-30.9%) on ``corpus_bulk``, for more, shorter young collections. ``-XX:+UseParallelGC`` gave the
  same RSS but gives up G1's pause goal; ``-Xmn``/``NewRatio`` fix
  the young size and stop G1 sizing it; an absolute ``MaxNewSize``
  does not scale with the heap; a 15% cap saved more RSS for twice
  the parent's young collections. The 32-core / 48 GB host is not
  measured. An ``extra_conf`` ``spark.driver.extraJavaOptions``
  replaces the whole default string, the cap included.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the ``sparkgraft`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "sparkgraft",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with sparkgraft defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for this environment; on a real cluster pass ``None`` via
    ``spark-submit`` and the builder inherits the cluster master.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 optimization round (guide §2.2/§2.4): let AQE coalesce the
        # output partitioning of CACHED plans too (off by default only
        # to keep cached partitioning stable for consumers that rely on
        # it — nothing here does). Without it a persisted intermediate
        # materializes at the static shuffle-partition count (32 here,
        # 1000s on a cluster) no matter how few bytes it holds, and
        # every downstream consumer stage — the BM25 tail alone hangs
        # ~10 subquery reads off its persisted tf state — pays a
        # 32-task scheduling floor to scan kilobytes. With the flag on,
        # AQE sizes cached-plan partitions by BYTES (advisory size), so
        # a small state caches as 1 partition at sf0.1 and as hundreds
        # only when it actually holds that much data — the
        # scale-adaptive behavior the guide's §2 asks for.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # kilobyte state in kilobyte pages (see the module docstring)
        .config("spark.buffer.pageSize", "2m")
        # local mode = driver-only: this is the whole memory budget.
        # 32 threads on an 8g heap GC-thrash on shuffle-heavy queries.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # whole-stage codegen emits one compiled class per query shape;
        # a multi-query session (bench runs 25+) fills the default
        # 240 MB JIT code cache, after which HotSpot stops compiling
        # and generated code runs interpreted (~2x slower, and it looks
        # like random per-query regressions). Also pin a conservative
        # region-based GC pause target: with 48g x 32 threads the
        # default throughput collector's full-GC pauses show up as
        # multi-second noise spikes in per-query timings. And cap the
        # young generation at 25% of the heap (see the module
        # docstring): G1 sizes eden by the pause goal alone, so with
        # ~20 ms young pauses it grew eden to its 60% maximum and the
        # first warm pass touched every page of it. Below the cap G1
        # still sizes young by the pause goal. Median peak RSS of
        # perfbench's conformance_bulk: 1,858 -> 1,138 MB (4 vCPU, 2 GB
        # driver; the 32-core / 48 GB host is not measured).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseG1GC "
            "-XX:MaxGCPauseMillis=200 "
            "-XX:+UnlockExperimentalVMOptions -XX:G1MaxNewSizePercent=25",
        )
    )
    conf = dict(extra_conf or {})
    # workers import sparkgraft (the worker daemon and the library's
    # Python passes) from the package root, after any extra_conf entries
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        filter(None, [conf.get(_WORKER_PYTHONPATH), _PACKAGE_ROOT])
    )
    conf.setdefault("spark.python.daemon.module", "sparkgraft._pydaemon")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
