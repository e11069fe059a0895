"""Per-stage profile of one or more headline queries (guide §1).

Runs each named query warm (N throwaway + M measured noop-sink passes
in one session) and prints, per measured pass, the wall seconds plus a
per-stage breakdown from the JVM AppStatusStore: stage id, name,
task count, executor-run time, shuffle read/write bytes, spill.
This is the stage-level view the Spark UI would give (the UI is
disabled in this environment), so optimization targets are named by
STAGE, not guessed from the plan.

Each measured pass also prints the driver JVM's CPU by thread class
(C2 and C1 JIT compilers, task threads, py4j/driver threads, GC,
other), read from ``/proc/<jvm>/task/*/{comm,stat}``, and its heap
use: young collections, GC time, and the eden and old-gen peaks
(the memory pools' peaks are reset before each pass), read from the
JVM's management beans. Neither launches a Spark action. A header
line says whether the driver JVM maps its class-data-sharing archive
(``session.archive_status``, read from ``/proc/<jvm>/maps``). The next
line splits the tool's own ``get_spark`` call into its start-up phases,
again without a Spark action: spawn (PySpark launches the driver JVM)
-> JVM start (the runtime bean's start time) -> gateway (the py4j
gateway answers) -> session ready (``get_spark`` returns); a third line
gives the wall seconds of the session's first job, the warm-up. With no
query named, the tool prints these three lines and stops.

Each pass first builds the query's DataFrame (``fn(spark, sf)``) alone,
once earlier passes' proxy deletes have been sent, and prints its wall
seconds and the py4j round trips the build made, by kind: ``call`` (a
JVM method call), ``member`` (a method or field lookup on a class or
object), ``name`` (a JVM name resolved through the gateway's imports),
``delete`` (a proxy released by Python's garbage collector) and
``other``. They are counted by wrapping
``py4j.clientserver.ClientServerConnection.send_command``.

Usage: python tools/query_profile.py [query ...] [--sf DIR]
       [--passes N] [--warm K]
"""

from __future__ import annotations

import collections
import contextlib
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TICK = os.sysconf("SC_CLK_TCK")
# JVM thread classes by thread-name prefix (``comm`` keeps 15 chars);
# unmatched threads are "other"
THREAD_CLASSES = (
    ("C2", ("C2 Compiler",)),
    ("C1", ("C1 Compiler",)),
    ("task", ("Executor task",)),
    # py4j connections are "Thread-N"; "java" is the JVM's main thread
    ("py4j/driver", ("Thread-", "java", "dag-scheduler", "broadcast-exch",
                     "shuffle-exchang", "ResultQueryStag", "QueryStageCreat",
                     "task-result-get", "spark-listener")),
    ("GC", ("GC Thread", "G1 ", "VM Thread")),
)


# py4j command prefixes (``py4j.protocol``) by round-trip kind; any
# other command counts as "other"
ROUND_TRIP_KINDS = (
    ("call", "c\n"),
    ("member", "r\nm\n"),
    ("name", "r\nu\n"),
    ("delete", "m\nd\n"),
)


@contextlib.contextmanager
def count_round_trips():
    """Count the py4j round trips sent while the block runs, from any
    thread, into the ``Counter`` it yields (keys: the
    ``ROUND_TRIP_KINDS`` names and "other")."""
    from py4j.clientserver import ClientServerConnection

    counts: collections.Counter = collections.Counter()
    send = ClientServerConnection.send_command

    def counted(self, command):
        kind = next((k for k, prefix in ROUND_TRIP_KINDS if command.startswith(prefix)), "other")
        counts[kind] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield counts
    finally:
        ClientServerConnection.send_command = send


def release_proxies(spark, timeout_s: float = 10.0) -> None:
    """Collect Python's garbage and wait until py4j has sent the JVM the
    proxy deletes that frees: they are queued and sent by a
    background thread, so a count taken right after a build would
    otherwise catch a varying share of an earlier build's deletes."""
    gc.collect()
    pending = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + timeout_s
    while pending and time.monotonic() < deadline:
        time.sleep(0.005)
    time.sleep(0.05)  # the delete the thread popped last is in flight


def round_trip_line(counts, build_s: float) -> str:
    """The build line of one pass: its wall seconds and round trips."""
    kinds = [k for k, _ in ROUND_TRIP_KINDS] + ["other"]
    parts = " ".join(f"{k}={counts[k]}" for k in kinds)
    return f"  build: {build_s:.3f}s, py4j round trips {sum(counts.values())} ({parts})"


def _cpu_ticks(stat_path: str) -> int:
    with open(stat_path) as fh:
        rest = fh.read().rsplit(")", 1)[1].split()
    return int(rest[11]) + int(rest[12])  # utime + stime


def thread_cpu(pid: int) -> tuple[int, dict[int, tuple[str, int]]]:
    """The JVM's total CPU ticks and ``{tid: (class, CPU ticks)}``."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                comm = fh.read().rstrip("\n")
            ticks = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread ended between listing and reading
            continue
        cls = next(
            (c for c, prefixes in THREAD_CLASSES if comm.startswith(prefixes)),
            "other",
        )
        threads[int(tid)] = (cls, ticks)
    return _cpu_ticks(f"/proc/{pid}/stat"), threads


def thread_cpu_line(before, after) -> str:
    """CPU seconds per thread class between two ``thread_cpu`` readings.
    Threads that ended in between are counted only in the total."""
    (total0, threads0), (total1, threads1) = before, after
    cpu = dict.fromkeys([c for c, _ in THREAD_CLASSES] + ["other"], 0)
    for tid, (cls, ticks) in threads1.items():
        cpu[cls] += ticks - threads0.get(tid, (cls, 0))[1]
    parts = " ".join(f"{c}={t / _TICK:.2f}s" for c, t in cpu.items())
    return f"  jvm threads: {parts} (total {(total1 - total0) / _TICK:.2f}s)"


def gc_totals(jvm) -> dict[str, tuple[int, int]]:
    """``{collector: (collections, GC milliseconds)}`` since JVM start."""
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {b.getName(): (b.getCollectionCount(), b.getCollectionTime()) for b in beans}


def _memory_pools(jvm):
    return jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()


def reset_pool_peaks(jvm) -> None:
    """Start every memory pool's peak over from its current use."""
    for pool in _memory_pools(jvm):
        pool.resetPeakUsage()


def pool_peaks(jvm) -> dict[str, int]:
    """``{memory pool: peak bytes used}`` since the last reset."""
    return {p.getName(): p.getPeakUsage().getUsed() for p in _memory_pools(jvm)}


def heap_line(before, after, peaks) -> str:
    """Young collections and GC time between two ``gc_totals`` readings,
    and the eden and old-gen peaks of a ``pool_peaks`` reading (G1's
    collector and pool names; a missing one reads 0)."""
    zero = (0, 0)
    young = sum(c - before.get(n, zero)[0] for n, (c, _) in after.items() if "Young" in n)
    gc_ms = sum(ms - before.get(n, zero)[1] for n, (_, ms) in after.items())

    def peak_mb(word: str) -> float:
        return sum(b for n, b in peaks.items() if word in n) / 2**20

    return (f"  jvm heap: young_gcs={young} gc={gc_ms / 1000:.2f}s "
            f"eden_peak={peak_mb('Eden'):.0f}MB old_peak={peak_mb('Old Gen'):.0f}MB")


def archive_line(path: str | None, reason: str | None) -> str:
    """The header line for a ``session.archive_status`` reading."""
    state = f"mapped {path}" if path is not None else f"not mapped: {reason}"
    return f"cds archive: {state}"


@contextlib.contextmanager
def gateway_clock():
    """Record into the dict it yields the wall times (``time.time()``)
    at which PySpark launches the driver JVM (``spawn``) and at which
    the launch returns a connected py4j gateway (``gateway``). The dict
    stays empty when the block starts no JVM."""
    from pyspark.core import context

    marks: dict[str, float] = {}
    launch = context.launch_gateway

    def timed(*args, **kwargs):
        marks["spawn"] = time.time()
        gateway = launch(*args, **kwargs)
        marks["gateway"] = time.time()
        return gateway

    context.launch_gateway = timed
    try:
        yield marks
    finally:
        context.launch_gateway = launch


def startup_line(marks: dict[str, float], jvm_start: float, ready: float) -> str:
    """The start-up phases of a session from ``gateway_clock`` marks,
    the JVM's start time and the time the session was ready."""
    if not marks:
        return "startup: the driver JVM was already running"
    phases = (
        ("spawn->jvm", jvm_start - marks["spawn"]),
        ("jvm->gateway", marks["gateway"] - jvm_start),
        ("gateway->ready", ready - marks["gateway"]),
    )
    parts = " ".join(f"{k}={v:.2f}s" for k, v in phases)
    return f"startup: {parts} (total {ready - marks['spawn']:.2f}s)"


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    passes, warm = 2, 1
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--passes":
            passes = int(args[i + 1])
            i += 2
        elif args[i] == "--warm":
            warm = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    from sparkgraft import queries as Q
    from sparkgraft.obs import stage_reader
    from sparkgraft.session import archive_status, get_spark

    with gateway_clock() as marks:
        spark = get_spark("query-profile")
    ready = time.time()
    print(archive_line(*archive_status(spark)))
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    print(startup_line(marks, bean.getStartTime() / 1000, ready))
    read = stage_reader(spark)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    # session warm-up: JVM + parquet footers
    t0 = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    print(f"first job: {time.time() - t0:.2f}s")
    all_q = dict(Q.QUERIES)
    all_q.update(Q.RETIRED_QUERIES)
    for name in names:
        fn = all_q[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        for w in range(warm):
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            print(f"[{name}] warm pass {w}: {time.time() - t0:.3f}s")
            read()  # discard warm stages
        for p in range(passes):
            spark.catalog.clearCache()
            release_proxies(spark)  # earlier passes' deletes stay out of the count
            reset_pool_peaks(spark._jvm)
            gc0 = gc_totals(spark._jvm)
            cpu0 = thread_cpu(jvm_pid)
            t0 = time.time()
            with count_round_trips() as trips:
                df = fn(spark, sf_dir)
            build_s = time.time() - t0
            df.write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            stages = read()
            cpu1 = thread_cpu(jvm_pid)
            gc1, peaks = gc_totals(spark._jvm), pool_peaks(spark._jvm)
            print(f"\n[{name}] pass {p}: wall {wall:.3f}s, "
                  f"{len(stages)} stages")
            print(round_trip_line(trips, build_s))
            tot_run = sum(s["run_ms"] for s in stages)
            for s in stages:
                print(
                    f"  stage {s['id']:4d} tasks={s['tasks']:3d} "
                    f"run={s['run_ms']:6d}ms cpu={s['cpu_ms']:6d}ms "
                    f"shR={s['shuffle_read']:>9d} shW={s['shuffle_write']:>9d} "
                    f"in={s['in_bytes']:>9d} "
                    f"spill={s['spill_mem'] + s['spill_disk']} "
                    f" {s['name'][:90]}"
                )
            print(f"  total executor-run {tot_run}ms across stages "
                  f"(wall includes driver/planning gaps)")
            print(thread_cpu_line(cpu0, cpu1))
            print(heap_line(gc0, gc1, peaks))
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
