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
- The driver JVM starts from a dynamic class-data-sharing archive
  (JDK AppCDS, ``-XX:SharedArchiveFile``, appended to the default
  ``spark.driver.extraJavaOptions``): the classes a session start and
  its first job load are mapped from one file instead of being read
  from the jars, parsed and verified again. The archive
  lives in a per-machine cache outside the checkout,
  ``$XDG_CACHE_HOME/sparkgraft/cds/<key>.jsa`` (``~/.cache/...`` when
  the variable is unset); ``rm -r ~/.cache/sparkgraft/cds`` clears
  it. The key covers what HotSpot checks before it maps an archive:
  the JDK, the Spark jars (names, sizes, mtimes), the conf dir on the
  classpath, and whether compressed oops are on (a heap of 32 GB or
  more turns them off, and an archive dumped with the other setting
  is silently not mapped). Per-run values stay out of it, so every
  run of one machine shares one archive per heap class. A missing
  archive is built once, synchronously, before the serving JVM
  starts: a separate builder process (``python -m
  sparkgraft.session <target>``) starts the same session with
  ``-XX:ArchiveClassesAtExit``, runs one job and exits cleanly, which
  is when the JVM writes it (a JVM killed with SIGKILL, as benchmark
  harnesses stop theirs, never does). The build takes ~20 s, writes
  ~140 MB and logs to ``<key>.log`` next to the archive, never to
  stdout; a failed build leaves ``<key>.failed`` so later starts do
  not retry it. The dump refuses a non-empty directory on the
  classpath, and Spark puts its conf dir first there, so for the
  launch ``SPARK_CONF_DIR`` points at an empty directory in the cache,
  but only when it is unset and ``$SPARK_HOME/conf`` holds nothing but
  ``*.template`` files. Otherwise (with a warning), or when an
  ``extra_conf`` ``spark.driver.extraJavaOptions`` replaces the
  default string, the JVM starts without the archive. After start-up
  ``get_spark`` checks ``/proc/<jvm pid>/maps`` for the archive and
  warns (``RuntimeWarning``) when the JVM did not map it. Measured
  only on a 4-vCPU host with a 2 GB driver (``perfbench/run.py``, 10
  and 6 alternating pairs): median ``setup_s`` fell from 10.35 to
  5.72 s on ``conformance_bulk`` and from 9.27 to 5.15 s on
  ``corpus_bulk``; ``cpu_s`` and ``peak_rss_mb`` stayed within noise.
  The 32-core / 48 GB host is not measured.
- No Python call-site capture around every API call
  (``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark
  otherwise wraps each DataFrame, Column and function call in
  ``_with_origin``: it looks up the active session, reads
  ``spark.sql.stackTracesInDataFrameContext``, walks the Python stack
  and sets and clears the JVM's ``PySparkCurrentOrigin``, about 12 py4j
  round trips per call. What is lost is the Python file and line in a
  runtime error's query context; the error and its error class are
  unchanged (``1/0`` under ANSI still raises ``DIVIDE_BY_ZERO``).
  PySpark reads the setting once per Python process, from the first
  session that is active when a wrapped call runs, and keeps it: a
  later session of the same process, whatever its conf, runs with
  the first one's choice. An ``extra_conf`` value still wins.
- Single-type imports of ``PythonUtils``, ``PythonSQLUtils`` and
  ``functions`` on the session's JVM view (``java_import``). PySpark
  names these classes by their short names on every call; py4j tries a
  short name as a full class name first, then the view's single
  imports, then PySpark's star imports in turn, and every miss
  searches each jar on the class path. ``PythonSQLUtils`` was found
  only after six star imports had missed. (``functions`` is already a
  single import of PySpark's gateway; importing it again is a no-op
  that keeps the three names alike.)
  Both together cut the py4j round trips of a ``crawl_to_corpus`` build
  (sf0.001, proxy deletes included) from 5,624 to 3,437; with the
  library builders' own cuts (``web.py``, ``robots.py``) a build takes
  1,338 (``tests/test_round_trips.py`` pins at most 1,500). Measured
  only on a 4-vCPU host with a 2 GB driver (``perfbench/run.py``, 10
  alternating pairs): median ``cpu_s`` on ``corpus_bulk`` fell from
  8.34 to 6.61 s. The 32-core / 48 GB host is not measured.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import warnings

from py4j.java_gateway import java_import
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the directory holding the ``sparkgraft`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# whole-stage codegen emits one compiled class per query shape; a
# multi-query session (bench runs 25+) fills the default 240 MB JIT code
# cache, after which HotSpot stops compiling and generated code runs
# interpreted (~2x slower, and it looks like random per-query
# regressions). Also pin a conservative region-based GC pause target:
# with 48g x 32 threads the default throughput collector's full-GC
# pauses show up as multi-second noise spikes in per-query timings. And
# cap the young generation at 25% of the heap (see the module
# docstring): G1 sizes eden by the pause goal alone, so with ~20 ms
# young pauses it grew eden to its 60% maximum and the first warm pass
# touched every page of it. Below the cap G1 still sizes young by the
# pause goal. Median peak RSS of perfbench's conformance_bulk: 1,858 ->
# 1,138 MB (4 vCPU, 2 GB driver; the 32-core / 48 GB host is not
# measured). ``get_spark`` appends the class-data-sharing archive.
_DEFAULT_JAVA_OPTIONS = (
    "-XX:ReservedCodeCacheSize=512m -XX:+UseG1GC -XX:MaxGCPauseMillis=200 "
    "-XX:+UnlockExperimentalVMOptions -XX:G1MaxNewSizePercent=25"
)
# the JVM classes PySpark names by their short names on every DataFrame
# and Column call (see the module docstring)
_SINGLE_IMPORTS = (
    "org.apache.spark.api.python.PythonUtils",
    "org.apache.spark.sql.api.python.PythonSQLUtils",
    "org.apache.spark.sql.functions",
)
# a build takes ~20 s; a hung builder must not hold the build lock forever
_ARCHIVE_BUILD_LIMIT_S = 300


class _NoArchive(Exception):
    """Why the driver JVM starts without a class-data-sharing archive."""


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
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

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
        .config("spark.driver.memory", driver_memory)
    )
    conf = dict(extra_conf or {})
    # workers import sparkgraft (the worker daemon and the library's
    # Python passes) from the package root, after any extra_conf entries
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        filter(None, [conf.get(_WORKER_PYTHONPATH), _PACKAGE_ROOT])
    )
    conf.setdefault("spark.python.daemon.module", "sparkgraft._pydaemon")
    # no Python call-site capture around every API call (see the module
    # docstring); PySpark reads this once per process
    conf.setdefault("spark.python.sql.dataFrameDebugging.enabled", "false")
    java_options, archive = _DEFAULT_JAVA_OPTIONS, None
    launch_env: dict[str, str] = {}
    # the JVM's options count only when this call starts it
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    if launches and _JAVA_OPTIONS not in conf:
        # start from the class-data-sharing archive in the per-machine
        # cache, built on first use (see the module docstring; clear it
        # with ``rm -r ~/.cache/sparkgraft/cds``). Its key is the JDK,
        # the Spark jars, the conf dir and whether the heap keeps
        # compressed oops, so the 48g default and a small test heap use
        # different archives. An ``extra_conf`` value replaces the
        # whole option string, the archive included.
        try:
            archive, launch_env = _class_archive(conf.get("spark.driver.memory", driver_memory))
        except (_NoArchive, OSError) as e:
            warnings.warn(
                f"sparkgraft: the driver JVM starts without a class-data-sharing archive: {e}",
                RuntimeWarning,
                stacklevel=2,
            )
        else:
            java_options += f" -XX:SharedArchiveFile={archive}"
    conf.setdefault(_JAVA_OPTIONS, java_options)
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _environ(launch_env):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for name in _SINGLE_IMPORTS:
        java_import(spark._jvm, name)
    if archive is not None:
        _, reason = archive_status(spark)
        if reason is not None:
            warnings.warn(f"sparkgraft: {reason}", RuntimeWarning, stacklevel=2)
    return spark


def archive_status(spark: SparkSession) -> tuple[str | None, str | None]:
    """``(archive, None)`` when the session's driver JVM maps the
    class-data-sharing archive it was started with, else ``(None, why
    not)``. Reads the JVM's arguments and ``/proc/<jvm pid>/maps``;
    launches no Spark action."""
    jvm = spark._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    flag = "-XX:SharedArchiveFile="
    paths = [a[len(flag) :] for a in args if a.startswith(flag)]
    if not paths:
        return None, f"the driver JVM was started without {flag}"
    pid = jvm.java.lang.ProcessHandle.current().pid()
    real = os.path.realpath(paths[-1])
    try:
        with open(f"/proc/{pid}/maps") as fh:
            if any(line.rstrip("\n").endswith(real) for line in fh):
                return paths[-1], None
    except OSError:
        pass
    return None, (
        f"the driver JVM (pid {pid}) did not map its class-data-sharing archive {paths[-1]}"
    )


def archive_plan(driver_memory: str) -> tuple[str, dict[str, str]]:
    """The archive path for a driver JVM with this heap, and the
    environment its launch needs (``SPARK_CONF_DIR`` pointed at an empty
    directory). Raises ``_NoArchive`` when the conf dir holds real
    configuration."""
    cds = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "sparkgraft", "cds"
    )
    spark_home = _find_spark_home()
    if "SPARK_CONF_DIR" in os.environ:
        raise _NoArchive(f"SPARK_CONF_DIR is set ({os.environ['SPARK_CONF_DIR']})")
    default = os.path.join(spark_home, "conf")
    if os.path.isdir(default) and not all(n.endswith(".template") for n in os.listdir(default)):
        raise _NoArchive(f"{default} holds configuration that the launch may not hide")
    conf_dir = os.path.join(cds, "conf")
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(_java())))
    jars = os.path.join(spark_home, "jars")
    jdk_files = ("release", "lib/modules", "lib/server/libjvm.so")
    key = {
        "jdk": [jdk] + [_stamp(os.path.join(jdk, f)) for f in jdk_files],
        "jars": sorted(_stamp(os.path.join(jars, n)) for n in os.listdir(jars)),
        "conf_dir": conf_dir,
        "compressed_oops": _heap_bytes(driver_memory) < 32 * 2**30,
    }
    digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    return os.path.join(cds, f"{digest}.jsa"), {"SPARK_CONF_DIR": conf_dir}


def _class_archive(driver_memory: str) -> tuple[str, dict[str, str]]:
    """``archive_plan``'s archive, built first when it is missing."""
    path, env = archive_plan(driver_memory)
    os.makedirs(env["SPARK_CONF_DIR"], exist_ok=True)
    if not os.path.exists(path):
        _build_archive(path, env)
    return path, env


def _build_archive(path: str, env: dict[str, str]) -> None:
    """Dump the archive at ``path`` in a builder process, under a lock so
    concurrent starts build it once. The builder's output goes to
    ``<key>.log``; a failed build leaves ``<key>.failed``, and later
    starts skip the archive until that marker is deleted."""
    stem = path[: -len(".jsa")]
    log, failed = f"{stem}.log", f"{stem}.failed"
    with open(f"{stem}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(path):  # another process built it meanwhile
            return
        if os.path.exists(failed):
            raise _NoArchive(f"its build failed before (see {log}; delete {failed} to retry)")
        tmp = f"{path}.{os.getpid()}.tmp"
        pythonpath = os.environ.get("PYTHONPATH")
        child_env = dict(
            os.environ,
            **env,
            PYTHONPATH=os.pathsep.join(filter(None, [_PACKAGE_ROOT, pythonpath])),
        )
        with open(log, "w") as out:
            proc = subprocess.Popen(
                [sys.executable, "-m", "sparkgraft.session", tmp],
                stdin=subprocess.DEVNULL,
                stdout=out,
                stderr=subprocess.STDOUT,
                env=child_env,
                start_new_session=True,
            )
            try:
                status = f"builder exit status {proc.wait(timeout=_ARCHIVE_BUILD_LIMIT_S)}"
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)  # the builder and its JVM
                proc.wait()
                status = f"builder still running after {_ARCHIVE_BUILD_LIMIT_S} s"
        if proc.returncode == 0 and os.path.isfile(tmp) and os.path.getsize(tmp) > 0:
            os.replace(tmp, path)
            return
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        with open(failed, "w") as fh:
            fh.write(f"{status}\n")
        raise _NoArchive(f"its build wrote no archive ({status}; see {log})")


def _dump_archive(target: str) -> None:
    """The builder process: start the session with the dump armed, run
    one job, stop, and close the gateway so the JVM exits normally and
    writes the archive to ``target``."""
    spark = get_spark(
        "sparkgraft-cds",
        extra_conf={_JAVA_OPTIONS: f"{_DEFAULT_JAVA_OPTIONS} -XX:ArchiveClassesAtExit={target}"},
    )
    spark.range(1).count()
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    gateway.proc.wait()


@contextlib.contextmanager
def _environ(values: dict[str, str]):
    """``os.environ`` with ``values`` set, restored on exit."""
    saved = {k: os.environ.get(k) for k in values}
    os.environ.update(values)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _java() -> str:
    """The java binary Spark's launch script runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java:
        raise _NoArchive("no java binary found")
    return java


def _stamp(path: str) -> list:
    st = os.stat(path)
    return [os.path.basename(path), st.st_size, st.st_mtime_ns]


def _heap_bytes(memory: str) -> int:
    """A JVM memory string (Spark's ``spark.driver.memory``: MiB when it
    has no unit) in bytes."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", memory.strip().lower())
    if m is None:
        raise _NoArchive(f"unreadable driver memory {memory!r}")
    return int(m[1]) * 2 ** (10 * "kmgtp".index(m[2] or "m") + 10)


if __name__ == "__main__":
    _dump_archive(sys.argv[1])
