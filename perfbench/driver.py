"""One workload process: a closed loop with a single client.

Started by ``run.py`` with the environment it needs (cores, heap, temp
directories inside the checkout). It starts Spark through the program's
own ``session.get_spark``, runs one trivial job and prints ``READY`` so
the parent can time set-up. With ``--setup-only`` it stops there.

Otherwise it runs, in one Spark session:

1. the cold iteration, the first pass over the workload in the fresh
   session;
2. warm iterations until they add up to ``--seconds`` (at least three);
3. with ``--trace 1``, one traced iteration and the module probes.

An iteration is the workload's query, ``fn(spark, dir)``, written
through the workload's real sink. After every iteration, outside its
timing, the written output is read back, hashed canonically and compared
with the query's DuckDB oracle hash. The result is written as
``driver.json`` in ``--out``, with the spans next to it; then ``DONE``
is printed and the parent stops the process tree.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MIN_WARM = 3
PROBE_REPS = 3


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Runner:
    def __init__(self, spark, workload, inputs: str, manifest: dict, out: str, seed: int):
        import __spark_entry__ as E

        self.spark = spark
        self.w = workload
        self.inputs = inputs
        self.manifest = manifest
        self.sink_path = os.path.join(out, "sink")
        self.seed = seed
        self.fns = E.queries()
        self.attempted = 0
        self.failures: list[dict] = []

    def _fail(self, what: str, detail: str) -> None:
        self.failures.append({"what": what, "detail": detail[-2000:]})

    def _df(self):
        return self.fns[self.w.query](self.spark, self.inputs)

    def _write_sink(self, df) -> None:
        self.w.sink.write(df, self.sink_path, self.seed)

    def iteration(self) -> dict:
        """One pass, timed; then the written output is checked."""
        from procstat import cpu_seconds

        self.attempted += 1
        self.spark.catalog.clearCache()
        c0, t0 = cpu_seconds(os.getpid()), time.monotonic()
        try:
            self._write_sink(self._df())
            ok = True
        except Exception:  # a failing query is a benchmark result, not a crash
            self._fail(self.w.query, traceback.format_exc())
            ok = False
        wall = time.monotonic() - t0
        c1 = cpu_seconds(os.getpid())
        if ok:
            self.check_sink()
        return {"wall_s": wall, "cpu_s": {k: c1[k] - c0[k] for k in c0}}

    def check_sink(self) -> None:
        """Read the written output back and compare it with the oracle."""
        import pyarrow as pa

        q = self.w.query
        schema = pa.ipc.read_schema(pa.py_buffer(bytes.fromhex(self.manifest["oracle"][q]["schema"])))
        try:
            tbl = self.w.sink.read(self.sink_path, schema)
        except Exception:
            self._fail("sink", traceback.format_exc())
            return
        self._verify(q, tbl)

    def _verify(self, q: str, tbl) -> None:
        """Canonical hash against the oracle's, plus the conformance
        replica invariant on the flagship."""
        from canon import canonical_hash

        rows, digest = canonical_hash(tbl)
        want = self.manifest["oracle"][q]
        if rows != want["rows"] or digest != want["hash"]:
            self._fail(q, f"oracle mismatch: {rows} rows {digest}, want {want['rows']} {want['hash']}")
        elif q == "conformance_flagship":
            self._replica_invariant(tbl.to_pylist())

    def _replica_invariant(self, rows: list[dict]) -> None:
        """Every count is ``replicas`` times the base replica's answer and
        every percentage equals it."""
        r = self.manifest["replicas"]
        base = {(b["event_name"], b["prop_name"]): b for b in self.manifest["base_conformance"]}
        for row in rows:
            b = base[(row["event_name"], row["prop_name"])]
            for k, v in row.items():
                if k.endswith("_count") or k == "total_records":
                    want = r * b[k]
                elif k.endswith("_percentage"):
                    want = b[k]
                else:
                    continue
                if v != want:
                    self._fail("conformance_flagship", f"replica invariant: {k}={v}, want {want}")
                    return

    def traced(self, tracer) -> dict[str, float]:
        """One traced iteration, with build, plan and exec (the sink
        write) spans, then the module probes."""
        from workloads import data_files

        self.attempted += 1
        self.spark.catalog.clearCache()
        try:
            with tracer.span(f"query:{self.w.query}"):
                with tracer.span("build", spark_work=True):
                    df = self._df()
                with tracer.span("plan", spark_work=True):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec", spark_work=True) as es:
                    self._write_sink(df)
        except Exception:
            self._fail(self.w.query, traceback.format_exc())
        else:
            files = data_files(self.sink_path)
            es["files"], es["bytes"] = len(files), sum(map(os.path.getsize, files))
            self.check_sink()
        return self._probes(tracer)

    def _probes(self, tracer) -> dict[str, float]:
        from pyspark.sql import functions as F

        from sparkgraft import dedup, io, json_ops, text

        w = self.w
        scan = lambda: io.read_table(self.spark, self.inputs, w.inputs.table)  # noqa: E731
        probes = {
            "io.scan": scan,
            "json_ops.parse": lambda: scan().select(json_ops.payload_map(w.parse_col)),
            "text.tokenize": lambda: scan().select(text.tokens(w.text_col)),
            # minhash_signature(text) in the staged form the dedup module
            # recommends: shingles projected once, then hashed
            "dedup.signature": lambda: scan()
            .select(dedup.word_shingles(w.text_col).alias("shingles"))
            .select(dedup.signature_from_shingles(F.col("shingles"))),
        }
        med = {}
        for name, build in probes.items():
            times = []
            for _ in range(PROBE_REPS):
                with tracer.span(f"probe:{name}", spark_work=True) as s:
                    _noop(build())
                times.append(s["end"] - s["start"])
            med[name] = statistics.median(times)
        return med


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--inputs")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--deadline", type=float, default=120, help="seconds this process may use")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    born = time.monotonic()

    from sparkgraft.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    start_s = time.monotonic() - t0
    spark.range(1).count()
    print("READY", flush=True)
    if not args.setup_only:
        run(spark, args, born, start_s)
        print("DONE", flush=True)
    time.sleep(60)  # the parent stops this process tree on READY or DONE
    return 1


def run(spark, args, born: float, start_s: float) -> None:
    from sparkstats import StatusReader
    from spans import Tracer
    from workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    with open(os.path.join(args.inputs, "manifest.json")) as fh:
        manifest = json.load(fh)
    runner = Runner(spark, w, args.inputs, manifest, args.out, args.seed)
    result: dict = {"session_start_s": start_s}

    result["cold"] = runner.iteration()

    warm: list[dict] = []
    while len(warm) < MIN_WARM or sum(it["wall_s"] for it in warm) < args.seconds:
        est = warm[-1]["wall_s"] if warm else result["cold"]["wall_s"]
        if warm and time.monotonic() + est > born + args.deadline:
            break
        warm.append(runner.iteration())
    result["warm"] = warm

    if args.trace:
        tracer = Tracer(os.path.basename(args.out), StatusReader(spark))
        with tracer.span("traced") as it:
            probes_total = runner.traced(tracer)
        result["probes"] = probes_total
        result["spans"] = tracer.spans
        result["traced_iteration_s"] = sum(
            tracer.duration(s["id"])
            for s in tracer.spans
            if s["parent"] == it["id"] and not s["name"].startswith("probe:")
        )
        tracer.write(os.path.join(args.out, "spans.json"))

    result["attempted"] = runner.attempted
    result["failures"] = runner.failures
    with open(os.path.join(args.out, "driver.json"), "w") as fh:
        json.dump(result, fh, indent=1)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
