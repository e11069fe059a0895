"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload conformance_bulk --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run:

1. builds the workload's inputs for the seed, once, with pyarrow, and
   the DuckDB oracle hashes of every query over them (cached under
   ``.perfbench/inputs``; generation is never timed);
2. starts ``driver.py`` in a fresh process and samples the memory of its
   JVM and Python workers from /proc until it exits;
3. starts two more fresh processes that only set Spark up, so set-up
   time is the median of three samples;
4. prints a table of every metric, then, as the last line of stdout, one
   JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``.

Every file a run writes stays under ``.perfbench`` in the checkout:
inputs, Spark's scratch space, logs, sink output, and each run's detail
artifact (``runs/<id>/detail.json``, with host load and memory before
and after, and ``spans.json`` for traced runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_LIMIT_S = 165  # the whole run, generation and set-up samples included
SETUP_SAMPLES = 3
SETUP_LIMIT_S = 30  # wall limit of one set-up-only sample
SAMPLE_EVERY_S = 0.2
HEAP_MB_MAX = 2048

E2E = (  # every end-to-end figure; all are printed and kept in detail.json
    ("setup_s", "s"),
    ("job_s", "s"),
    ("rows_per_s", "rows/s"),
    ("cold_job_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)
# The ones BENCHMARK.json lists. On a shared 4-core host the wall times
# of the job (job_s, rows_per_s, cold_job_s) spread by up to 0.36 over
# ten seeds, as the host slowed and sped up between runs; CPU time
# spread by at most 0.18.
REPORTED = ("setup_s", "cpu_s", "peak_rss_mb")


def child_env(tmp: str, facts: dict) -> dict[str, str]:
    env = dict(os.environ)
    path = env.get("PYTHONPATH")
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        SPARK_GRAFT_CPUS=str(facts["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb(facts)}m",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
        TMPDIR=tmp,
        # no JVM writes outside the checkout (-UsePerfData: no
        # /tmp/hsperfdata). The driver JVM's heap has a fixed size:
        # G1 otherwise grows it on timing-driven pause heuristics, and
        # peak RSS then varies from run to run.
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb(facts)}m",
    )
    return env


def heap_mb(facts: dict) -> int:
    return min(HEAP_MB_MAX, facts["mem_total_mb"] // 3)


def run_child(argv: list[str], env: dict, log: str, limit_s: float, stop_on: str) -> dict:
    """Run driver.py; time its READY line and sample the resident memory
    of its JVM and Python workers. Once the line ``stop_on`` arrives the
    process tree is killed: nothing after it is measured, and Spark's
    orderly shutdown would only add seconds to every run. Returns once
    every process of the tree has ended."""
    t0 = time.monotonic()
    with open(log, "a") as err:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), *argv],
            stdout=subprocess.PIPE, stderr=err, env=env, cwd=ROOT, text=True,
        )
    stop = threading.Event()
    ready_s: list[float] = []

    def read() -> None:
        for line in p.stdout:
            line = line.strip()
            if line == "READY" and not ready_s:
                ready_s.append(time.monotonic() - t0)
            if line == stop_on:
                stop.set()

    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    peak = {"total": 0.0, "jvm": 0.0, "pyworker": 0.0}
    seen: set[int] = set()
    while p.poll() is None and not stop.is_set() and time.monotonic() - t0 < limit_s:
        try:
            pids = procstat.tree(p.pid)
            mb = procstat.rss_mb(pids)
        except (OSError, ValueError, IndexError):  # the tree changed mid-read
            continue
        mb["total"] = mb["jvm"] + mb["pyworker"]
        peak = {k: max(v, mb[k]) for k, v in peak.items()}
        seen.update(pids)
        stop.wait(SAMPLE_EVERY_S)
    finished = stop.is_set()
    seen.update(procstat.tree(p.pid))
    _kill(seen)
    p.wait()
    reader.join(timeout=5)
    return {"ok": finished, "ready_s": ready_s[0] if ready_s else None, "peak_rss_mb": peak}


def _kill(pids: set[int]) -> None:
    """Kill ``pids`` and wait until each has ended (zombies count as
    ended)."""
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(procstat.running(p) for p in pids):
        time.sleep(0.05)


def e2e_metrics(d: dict, setups: list[float], peak: float, input_rows: int) -> dict:
    warm = d["warm"]
    job_s = statistics.median(it["wall_s"] for it in warm)
    return {
        "setup_s": statistics.median(setups),
        "job_s": job_s,
        "rows_per_s": input_rows / job_s,
        "cold_job_s": d["cold"]["wall_s"],
        "cpu_s": statistics.median(sum(it["cpu_s"].values()) for it in warm),
        "peak_rss_mb": peak,
    }


PER_LAYER = (
    ("session.start_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("spark.plan_s", "s"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.slot_busy_frac", "ratio"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("jvm.cpu_s", "s"),
    ("pyworker.cpu_s", "s"),
    ("driver.cpu_s", "s"),
    ("io.scan_s", "s"),
    ("json_ops.parse_s", "s"),
    ("text.tokenize_s", "s"),
    ("dedup.signature_s", "s"),
    ("io.write_s", "s"),
    ("io.write_mb", "MB"),
    ("io.files_written", "count"),
    ("trace.overhead_s", "s"),
)


def layer_metrics(d: dict, job_s: float, cores: int) -> dict:
    """Per-layer figures from the traced iteration's spans, the probes,
    and the warm iterations' CPU split."""
    spans = d["spans"]
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def phase(name):
        return [
            s for s in spans
            if s["name"] == name and by_id[s["parent"]]["name"].startswith("query:")
        ]

    builds, plans, execs = phase("build"), phase("plan"), phase("exec")
    work = [s for s in spans if "spark" in s and not s["name"].startswith("probe:")]

    def total(key, ss=work):
        return sum(s["spark"][key] for s in ss)

    def cpu(cls):
        return statistics.median(it["cpu_s"][cls] for it in d["warm"])

    exec_s = sum(map(dur, execs))
    write = execs[0]  # the sink write
    p = d["probes"]
    return {
        "session.start_s": d["session_start_s"],
        "queries.build_s": sum(map(dur, builds)),
        "queries.build_jobs": total("jobs", builds),
        "spark.plan_s": sum(map(dur, plans)),
        "spark.exec_s": exec_s,
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_s": total("executor_run_s"),
        "spark.executor_cpu_s": total("executor_cpu_s"),
        "spark.gc_s": total("gc_s"),
        "spark.slot_busy_frac": total("executor_run_s", execs) / (exec_s * cores),
        "spark.shuffle_read_mb": total("shuffle_read_mb"),
        "spark.shuffle_write_mb": total("shuffle_write_mb"),
        "spark.spill_mb": total("spill_mb"),
        "jvm.cpu_s": cpu("jvm"),
        "pyworker.cpu_s": cpu("pyworker"),
        "driver.cpu_s": cpu("driver"),
        "io.scan_s": p["io.scan"],
        "json_ops.parse_s": p["json_ops.parse"] - p["io.scan"],
        "text.tokenize_s": p["text.tokenize"] - p["io.scan"],
        "dedup.signature_s": p["dedup.signature"] - p["text.tokenize"],
        "io.write_s": dur(write),
        "io.write_mb": write["bytes"] / 2**20,
        "io.files_written": write["files"],
        "trace.overhead_s": d["traced_iteration_s"] - job_s,
    }


def conformance_self_s(d: dict) -> float | None:
    """The flagship's sink write minus the scan and JSON parse its probe
    measured; None on workloads without the flagship."""
    for s in d["spans"]:
        if s["name"] == "query:conformance_flagship":
            write = next(c for c in d["spans"] if c["parent"] == s["id"] and c["name"] == "exec")
            return write["end"] - write["start"] - d["probes"]["json_ops.parse"]
    return None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    born = time.monotonic()
    w = WORKLOADS[args.workload]

    import __spark_entry__ as E
    from gen import ensure

    os.makedirs(WORK, exist_ok=True)
    inputs, manifest = ensure(
        os.path.join(WORK, "inputs"), w.name, w.inputs, args.seed, w.query, E.oracle_sql()
    )

    run_id = f"{w.name}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%d-%H%M%S')}-{os.getpid()}"
    out = os.path.join(WORK, "runs", run_id)
    tmp = os.path.join(WORK, "tmp", run_id)
    os.makedirs(out)
    os.makedirs(tmp)
    log = os.path.join(out, "driver.log")
    host_before = procstat.host_facts()
    env = child_env(tmp, host_before)

    # a traced run reports no set-up time, so it takes one sample only
    extra = 0 if args.trace else SETUP_SAMPLES - 1
    limit = RUN_LIMIT_S - (time.monotonic() - born) - SETUP_LIMIT_S * extra
    main_run = run_child(
        ["--workload", w.name, "--inputs", inputs, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--deadline", str(limit - 10), "--out", out],
        env, log, limit, stop_on="DONE",
    )
    setups = [main_run["ready_s"]]
    for _ in range(extra):
        r = run_child(["--workload", w.name, "--setup-only"], env, log, SETUP_LIMIT_S,
                      stop_on="READY")
        setups.append(r["ready_s"])
    host_after = procstat.host_facts()
    shutil.rmtree(tmp, ignore_errors=True)

    result_path = os.path.join(out, "driver.json")
    if not main_run["ok"] or None in setups or not os.path.exists(result_path):
        print(f"perfbench: the workload process did not finish; see {log}", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        d = json.load(fh)

    e2e = e2e_metrics(d, setups, main_run["peak_rss_mb"]["total"], manifest["input_rows"])
    failed = len(d["failures"])
    attempted = d["attempted"]
    detail = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "host_before": host_before, "host_after": host_after,
        "driver_heap_mb": heap_mb(host_before),
        "inputs": {k: manifest[k] for k in ("tables", "input_rows", "replicas", "base_rows")},
        "setup_samples_s": setups,
        "peak_rss_mb": main_run["peak_rss_mb"],
        "cold": d["cold"], "warm": d["warm"],
        "fail_frac": failed / attempted, "failures": d["failures"],
        "end_to_end": e2e,
    }
    if args.trace:
        metrics = layer_metrics(d, e2e["job_s"], host_before["nproc"])
        detail["per_layer"] = metrics
        detail["conformance.self_s"] = conformance_self_s(d)
        detail["probes_s"] = d["probes"]
    else:
        metrics = {k: e2e[k] for k in REPORTED}
    with open(os.path.join(out, "detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    print(f"workload {w.name}  seed {args.seed}  trace {args.trace}  "
          f"input rows {manifest['input_rows']}  warm iterations {len(d['warm'])}")
    for name, value in e2e.items():
        note = "" if name in REPORTED else "  (detail only)"
        print(f"  {name:<24} {value:>14.4f} {dict(E2E)[name]}{note}")
    print(f"  {'fail_frac':<24} {failed / attempted:>14.4f} ratio  ({failed}/{attempted}, detail only)")
    units = dict(PER_LAYER if args.trace else E2E)
    if args.trace:
        for name, value in metrics.items():
            print(f"  {name:<24} {value:>14.4f} {units[name]}")
        if detail["conformance.self_s"] is not None:
            print(f"  {'conformance.self_s':<24} {detail['conformance.self_s']:>14.4f} s")
    print(f"  detail: {os.path.relpath(out, ROOT)}/detail.json")

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
