"""Which library lines does each retired query alone reach?

Traces (stdlib ``sys.settrace``) every registered query, active and
retired, then the unit suite in-process without the per-query retired
oracle cases and the check on this report, and records the ``sparkgraft/`` lines each query and each
test reaches on the driver and in the Python workers. Only lines inside
function bodies count, from the first body statement on: a module's
signature, decorator and default-argument lines run at import time, in
whichever query happens to import it first.

A retired query is cleared for deletion when both hold:

(a) every function-body line it reaches in ``sparkgraft/`` outside
    ``sparkgraft/queries/`` is also reached by an active query, or by a
    unit test that runs no retired query's body;
(b) no code token in ``tests/`` (but ``test_retired_oracles.py``),
    ``tools/``, ``bench.py`` or ``__spark_entry__.py`` names it: a
    string literal, a ``from sparkgraft.queries... import name``, or an
    attribute of a ``sparkgraft.queries`` module such as ``Q.name``.

Writes ``artifacts/RETIRED_REACH.json``: one entry per retired query,
``deleted: ...``, ``kept: named by <files>`` and/or ``kept: unique lines
[file:line, ...]``. Entries of queries already deleted are carried over
from the previous report; ``tests/test_retired_oracles.py`` checks that
the registry keeps exactly the ``kept`` entries.

Worker lines come from this module run as the workers' daemon
(``spark.python.daemon.module``): it installs ``sparkgraft._pydaemon``'s
patch, then wraps each task in a tracer and appends the lines it reached
to a per-process file, tagged with the query or test named in a marker
file when the task's data arrives.

Usage: python tools/reach_report.py [sf_dir]   (default: the test sf0.001)
Takes ~3 min for the queries and ~13 min for the suite on 4 vCPUs.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import select
import shutil
import sys
import tempfile
import threading

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO_ROOT, "sparkgraft") + os.sep
QUERIES_DIR = os.path.join(PKG_DIR, "queries") + os.sep
REPORT = os.path.join(REPO_ROOT, "artifacts", "RETIRED_REACH.json")
DAEMON_MODULE = "tools.reach_report"
# set by the driver before its JVM starts, so the daemon inherits them
MARKER_ENV = "SPARK_GRAFT_REACH_MARKER"
DUMP_ENV = "SPARK_GRAFT_REACH_DUMPS"
NAMING_FILES = ("tests/**/*.py", "tools/**/*.py", "bench.py", "__spark_entry__.py")
# the oracle test is parametrized over the registry
NOT_NAMING = {"tests/test_retired_oracles.py"}
# the per-query oracle cases run retired queries, and the registry check
# reads this tool's report
DESELECT = [
    "tests/test_retired_oracles.py::test_retired_query_matches_oracle",
    "tests/test_retired_oracles.py::test_retired_tier_is_what_the_reach_report_keeps",
]


class Tracer:
    """Collects ``(filename, line)`` for every line run in a
    ``sparkgraft/`` frame, and whether any frame ran one of
    ``watched`` code objects."""

    def __init__(self, watched=frozenset()):
        self.lines: set[tuple[str, int]] = set()
        self.watched = watched
        self.hit_watched = False

    def _local(self, frame, event, arg):
        if event == "line":
            self.lines.add((frame.f_code.co_filename, frame.f_lineno))
        return self._local

    def _global(self, frame, event, arg):
        code = frame.f_code
        if not code.co_filename.startswith(PKG_DIR):
            return None
        if code in self.watched:
            self.hit_watched = True
        return self._local

    def __enter__(self):
        threading.settrace(self._global)
        sys.settrace(self._global)
        return self

    def __exit__(self, *exc):
        sys.settrace(None)
        threading.settrace(None)


# ---------------------------------------------------------------- worker side


def _daemon_main() -> None:
    from pyspark import daemon

    from sparkgraft import _pydaemon

    _pydaemon.install()
    marker, dumps = os.environ[MARKER_ENV], os.environ[DUMP_ENV]
    run_task = daemon.worker

    def traced_worker(sock, authenticated):
        # a reused worker waits here for its next task: read the marker
        # once the task's data arrives, not when the previous one ended
        select.select([sock], [], [])
        with open(marker) as f:
            name = f.read()
        tr = Tracer()
        try:
            with tr:
                return run_task(sock, authenticated)
        finally:
            if name and tr.lines:
                rec = {"name": name, "lines": sorted(tr.lines)}
                with open(os.path.join(dumps, f"{os.getpid()}.jsonl"), "a") as out:
                    out.write(json.dumps(rec) + "\n")

    daemon.worker = traced_worker  # manager() looks it up for every task
    daemon.manager()


# ---------------------------------------------------------------- driver side


def body_lines() -> dict[str, set[int]]:
    """Per ``sparkgraft/`` file: the lines from each function's first
    body statement to its end."""
    out: dict[str, set[int]] = {}
    for path in glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        lines = out.setdefault(path, set())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                lines.update(range(node.body[0].lineno, node.end_lineno + 1))
    return out


def naming_files(names: set[str]) -> dict[str, set[str]]:
    """Query name -> the files whose code tokens name it (rule (b))."""
    named: dict[str, set[str]] = {}
    for pattern in NAMING_FILES:
        for path in sorted(glob.glob(os.path.join(REPO_ROOT, pattern), recursive=True)):
            rel = os.path.relpath(path, REPO_ROOT)
            if rel in NOT_NAMING:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            modules: set[str] = set()  # local names bound to sparkgraft.queries modules
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                    "sparkgraft"
                ):
                    for a in node.names:
                        dotted = f"{node.module}.{a.name}"
                        if dotted.startswith("sparkgraft.queries"):
                            modules.add(a.asname or a.name)
                            if node.module.startswith("sparkgraft.queries") and a.name in names:
                                named.setdefault(a.name, set()).add(rel)
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name.startswith("sparkgraft.queries") and a.asname:
                            modules.add(a.asname)
            for node in ast.walk(tree):
                hit = None
                if isinstance(node, ast.Constant) and isinstance(node.value, str):
                    hit = node.value
                elif (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in modules
                ):
                    hit = node.attr
                if hit in names:
                    named.setdefault(hit, set()).add(rel)
    return named


def _set_marker(path: str, name: str) -> None:
    with open(path, "w") as f:
        f.write(name)


class _SuiteReach:
    """pytest plugin: traces each test under its node id."""

    def __init__(self, marker: str, retired_codes: frozenset):
        self.marker = marker
        self.retired_codes = retired_codes
        self.lines: dict[str, set] = {}
        self.runs_retired: set[str] = set()

    def pytest_runtest_protocol(self, item, nextitem):
        _set_marker(self.marker, item.nodeid)
        with Tracer(self.retired_codes) as tr:
            yield
        _set_marker(self.marker, "")
        self.lines[item.nodeid] = tr.lines
        if tr.hit_watched:
            self.runs_retired.add(item.nodeid)

    pytest_runtest_protocol.hookwrapper = True


def trace_all(sf_dir: str, work: str) -> dict:
    """Run and trace every query, then the suite. Returns the raw reach:
    ``{"active"|"retired"|"tests": {name: set of (path, line)}}`` and
    the tests that ran a retired query's body."""
    import pytest

    from sparkgraft import queries as Q
    from sparkgraft.session import get_spark

    marker, dumps = os.path.join(work, "marker"), os.path.join(work, "dumps")
    os.makedirs(dumps)
    _set_marker(marker, "")
    os.environ[MARKER_ENV], os.environ[DUMP_ENV] = marker, dumps
    # the suite's defaults (tests/conftest.py): its getOrCreate reuses this session
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark(
        "sparkgraft-tests", extra_conf={"spark.python.daemon.module": DAEMON_MODULE}
    )

    reach: dict[str, dict[str, set]] = {"active": {}, "retired": {}}
    for tier, registry in (("active", Q.QUERIES), ("retired", Q.RETIRED_QUERIES)):
        for name, fn in registry.items():
            _set_marker(marker, f"{tier}:{name}")
            with Tracer() as tr:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            _set_marker(marker, "")
            reach[tier][name] = tr.lines
            print(f"[traced] {tier} {name}: {len(tr.lines)} lines", flush=True)

    retired_codes = frozenset(fn.__code__ for fn in Q.RETIRED_QUERIES.values())
    plugin = _SuiteReach(marker, retired_codes)
    code = pytest.main(
        ["tests/", "-q", "-p", "no:cacheprovider"] + [f"--deselect={d}" for d in DESELECT],
        plugins=[plugin],
    )
    if code != 0:
        raise SystemExit(f"the unit suite failed (exit {code}); no report written")
    reach["tests"] = plugin.lines

    for path in glob.glob(os.path.join(dumps, "*.jsonl")):
        with open(path) as f:
            for row in f:
                rec = json.loads(row)
                tier, _, name = rec["name"].rpartition(":")
                if tier not in ("active", "retired"):
                    tier, name = "tests", rec["name"]
                reach[tier].setdefault(name, set()).update(map(tuple, rec["lines"]))
    return {"reach": reach, "runs_retired": plugin.runs_retired}


def judge(raw: dict, named: dict[str, set[str]], previous: dict[str, str]) -> dict[str, str]:
    """Apply rules (a) and (b) to every registered retired query."""
    bodies = body_lines()

    def library(lines):
        return {
            (p, n)
            for p, n in lines
            if not p.startswith(QUERIES_DIR) and n in bodies.get(p, ())
        }

    reach = raw["reach"]
    covered = set()
    for lines in reach["active"].values():
        covered |= library(lines)
    for test, lines in reach["tests"].items():
        if test not in raw["runs_retired"]:
            covered |= library(lines)

    verdict = {
        name: entry
        for name, entry in previous.items()
        if entry.startswith("deleted") and name not in reach["retired"]
    }
    for name, lines in sorted(reach["retired"].items()):
        mine = library(lines)
        unique = [f"{os.path.relpath(p, REPO_ROOT)}:{n}" for p, n in sorted(mine - covered)]
        reasons = []
        if name in named:
            reasons.append("named by " + ", ".join(sorted(named[name])))
        if unique:
            reasons.append(f"unique lines [{', '.join(unique)}]")
        verdict[name] = (
            "kept: " + "; ".join(reasons)
            if reasons
            else f"deleted: its {len(mine)} library lines are all reached by "
            "active queries or unit tests"
        )
    return dict(sorted(verdict.items()))


def write_report(verdict: dict[str, str], sf_dir: str) -> None:
    kept = sum(v.startswith("kept") for v in verdict.values())
    doc = {
        "about": (
            "One entry per retired query (tools/reach_report.py, "
            f"{os.path.basename(sf_dir)}): 'deleted' when rules (a) and (b) of the tool's "
            "docstring clear it, else 'kept' with the reason."
        ),
        "kept": kept,
        "deleted": len(verdict) - kept,
        "retired": verdict,
    }
    with open(REPORT, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


def main() -> int:
    from conftest import SF_DIR

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    previous = {}
    if os.path.exists(REPORT):
        with open(REPORT) as f:
            previous = json.load(f)["retired"]
    work = tempfile.mkdtemp(prefix="reach-")
    try:
        raw = trace_all(sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = set(raw["reach"]["retired"])
    verdict = judge(raw, naming_files(names), previous)
    write_report(verdict, sf_dir)
    kept = [n for n, v in verdict.items() if v.startswith("kept")]
    print(f"retired: {len(kept)} kept, {len(verdict) - len(kept)} deleted -> {REPORT}")
    return 0


if __name__ == "__main__":
    if MARKER_ENV in os.environ:  # started by Spark as the workers' daemon
        _daemon_main()
    else:
        sys.path[:0] = [REPO_ROOT, os.path.join(REPO_ROOT, "tests")]
        os.chdir(REPO_ROOT)
        raise SystemExit(main())
