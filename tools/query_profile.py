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
(``session.archive_status``, read from ``/proc/<jvm>/maps``).

Usage: python tools/query_profile.py <query> [query ...] [--sf DIR]
       [--passes N] [--warm K]
"""

from __future__ import annotations

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

    spark = get_spark("query-profile")
    print(archive_line(*archive_status(spark)))
    read = stage_reader(spark)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    # session warm-up: JVM + parquet footers
    spark.range(1000).selectExpr("sum(id)").collect()
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
            reset_pool_peaks(spark._jvm)
            gc0 = gc_totals(spark._jvm)
            cpu0 = thread_cpu(jvm_pid)
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            stages = read()
            cpu1 = thread_cpu(jvm_pid)
            gc1, peaks = gc_totals(spark._jvm), pool_peaks(spark._jvm)
            print(f"\n[{name}] pass {p}: wall {wall:.3f}s, "
                  f"{len(stages)} stages")
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
