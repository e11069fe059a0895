"""Session tests (sparkgraft/session.py, sparkgraft/_pydaemon.py): the
worker daemon's stat-checked zip-cache invalidation, that Python workers
run it, that they import sparkgraft from any working directory and not
the query registry, the driver JVM's options, its class-data-sharing
archive, and the classpath extensions a session skips (with a guard
that nothing in the repo uses Spark ML)."""

from __future__ import annotations

import ast
import importlib
import os
import re
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from sparkgraft import _pydaemon as D

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(D.__file__)))


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _run_probe(script: str, cwd, **env: str | None) -> str:
    """Run ``script`` in a fresh Python process in ``cwd`` with a 1 GB
    driver heap and ``env`` over ``os.environ`` (``None`` unsets a
    variable); its stdout."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", **env)
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env={k: v for k, v in env.items() if v is not None},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib is lazy")
def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    """Two importers on one archive (its root and its package dir).
    Unchanged archive: invalidating reads nothing. Rewritten with a new
    member: exactly one re-read, and the new member imports through the
    package importer that did not read."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"sgzpkg/__init__.py": "", "sgzpkg/a.py": "X = 1\n"})
    # restored after the test, like the stamps
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(D, "_read_stamps", {})
    monkeypatch.syspath_prepend(archive)
    try:
        import sgzpkg.a

        assert sgzpkg.a.X == 1
        importers = [
            v
            for k, v in sys.path_importer_cache.items()
            if k.startswith(archive) and isinstance(v, zipimport.zipimporter)
        ]
        assert len(importers) == 2
        D.install()  # stamps the archive with one read
        assert zipimport.zipimporter.invalidate_caches is D.invalidate_caches

        reads: list[str] = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport,
            "_read_directory",
            lambda path: reads.append(path) or real(path),
        )
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(
            archive,
            {
                "sgzpkg/__init__.py": "",
                "sgzpkg/a.py": "X = 1\n",
                "sgzpkg/b.py": "Y = 2\n",
            },
        )
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import sgzpkg.b

        assert sgzpkg.b.Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        for name in ("sgzpkg", "sgzpkg.a", "sgzpkg.b"):
            sys.modules.pop(name, None)


def test_daemon_leaves_lazy_stdlib_alone(monkeypatch):
    """Python 3.13's ``zipimporter.invalidate_caches`` only drops the
    shared cache entry; there the daemon patches nothing."""
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    D.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_workers_run_the_library_daemon(spark):
    """Inside a task, ``zipimporter.invalidate_caches`` is the daemon's
    (on Python < 3.13): forked workers inherited its patch."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "fn": [f"{fn.__module__}.{fn.__qualname__}"],
                "lazy": [sys.version_info >= (3, 13)],
            }
        )

    [row] = spark.range(1, numPartitions=1).mapInArrow(
        probe, "fn string, lazy boolean"
    ).collect()
    expected = (
        "zipimport.zipimporter.invalidate_caches"
        if row.lazy
        else "sparkgraft._pydaemon.invalidate_caches"
    )
    assert row.fn == expected


def test_workers_import_sparkgraft_from_any_cwd(tmp_path):
    """A library Python pass (``robots_rules``, 2 rows) run from a
    directory that does not hold the package, with the package root only
    on the driver's ``sys.path``: the workers still import sparkgraft."""
    script = f"""
    import sys
    sys.path.insert(0, {REPO_ROOT!r})
    from sparkgraft import robots as R
    from sparkgraft.relational import tiny_frame
    from sparkgraft.session import get_spark

    spark = get_spark("cwd-probe", master="local[1]")
    hosts = tiny_frame(
        spark,
        [("a.com", "User-agent: *\\nDisallow: /x\\n"), ("b.com", None)],
        "host string, content string",
    )
    rows = R.robots_rules(hosts).collect()
    print("RULES", [(r.host, r.agent, r.pattern) for r in rows])
    spark.stop()
    """
    out = _run_probe(script, tmp_path, PYTHONPATH=None)
    assert "RULES [('a.com', '*', '/x')]" in out


def test_default_tungsten_page_is_2_mib(spark):
    """Kilobyte state takes a 2 MiB page, not Spark's default of
    nextPow2(execution memory / cores / 16) (16-64 MB)."""
    mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert mm.pageSizeBytes() == 2 * 2**20


def test_extra_conf_page_size_wins(tmp_path):
    """``extra_conf`` overrides the page size like every other default."""
    script = f"""
    import sys
    sys.path.insert(0, {REPO_ROOT!r})
    from sparkgraft.session import get_spark

    spark = get_spark(
        "page-probe",
        master="local[1]",
        extra_conf={{"spark.buffer.pageSize": "1m"}},
    )
    mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    print("PAGE", mm.pageSizeBytes())
    spark.stop()
    """
    out = _run_probe(script, tmp_path)
    assert f"PAGE {2**20}" in out


def _vm_option(spark, name: str) -> str:
    """A HotSpot flag's value as the driver JVM reads it."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def test_driver_young_gen_is_capped_at_a_quarter_of_the_heap(spark):
    """G1 with its young generation capped at 25% of the heap: without
    the cap G1 grew eden to 60% of a 2 GB heap and kept it resident."""
    assert _vm_option(spark, "UseG1GC") == "true"
    assert _vm_option(spark, "G1MaxNewSizePercent") == "25"


def test_extra_conf_java_options_replace_the_default(tmp_path):
    """An ``extra_conf`` ``spark.driver.extraJavaOptions`` replaces the
    whole default string: the code cache is back at the JVM's 240 MB,
    the experimental young-gen flag is locked again, and the JVM maps no
    class-data-sharing archive."""
    script = f"""
    import sys
    sys.path.insert(0, {REPO_ROOT!r})
    sys.path.insert(0, {os.path.join(REPO_ROOT, "tests")!r})
    from pyspark.errors import IllegalArgumentException
    from sparkgraft import session as S
    from test_session import _cache_archives, _vm_option

    spark = S.get_spark(
        "jvm-opts-probe",
        master="local[1]",
        extra_conf={{
            "spark.driver.extraJavaOptions": "-XX:MaxGCPauseMillis=150"
        }},
    )
    try:
        cap = _vm_option(spark, "G1MaxNewSizePercent")
    except IllegalArgumentException:  # experimental flags are locked again
        cap = "locked"
    print("OPTS", _vm_option(spark, "MaxGCPauseMillis"),
          _vm_option(spark, "ReservedCodeCacheSize"), cap)
    print("ARCHIVES", _cache_archives(spark), S.archive_status(spark))
    spark.stop()
    """
    out = _run_probe(script, tmp_path)
    assert f"OPTS 150 {240 * 2**20} locked" in out
    # the archive flag went too
    assert "ARCHIVES [] (None, 'the driver JVM was started without" in out


def _cache_archives(spark) -> list[str]:
    """The sparkgraft class-data-sharing archives the driver JVM maps."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/maps") as fh:
        paths = {line.split()[-1] for line in fh}
    return sorted(p for p in paths if "/sparkgraft/cds/" in p and p.endswith(".jsa"))


def test_session_jvm_maps_the_class_archive(spark):
    """The session's driver JVM starts from the cached class-data-sharing
    archive: the file is mapped, and ``archive_status`` says so."""
    from sparkgraft import session as S

    [mapped] = _cache_archives(spark)
    path, reason = S.archive_status(spark)
    assert reason is None and os.path.realpath(path) == mapped


def test_unmapped_archive_warns(tmp_path):
    """A junk file where the archive should be: the JVM starts without
    it, and ``get_spark`` says so with a ``RuntimeWarning``."""
    script = f"""
    import os, sys, warnings
    sys.path.insert(0, {REPO_ROOT!r})
    from sparkgraft import session as S

    path, _ = S.archive_plan("1g")
    os.makedirs(os.path.dirname(path))
    with open(path, "wb") as fh:
        fh.write(b"not an archive" * 64)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        spark = S.get_spark("archive-probe", master="local[1]")
    print("COUNT", spark.range(3).count())
    for w in caught:
        print("WARNING", w.category.__name__, w.message)
    spark.stop()
    """
    out = _run_probe(script, tmp_path, XDG_CACHE_HOME=str(tmp_path))
    assert "COUNT 3" in out
    assert "WARNING RuntimeWarning sparkgraft: the driver JVM" in out
    assert "did not map its class-data-sharing archive" in out


@pytest.mark.parametrize(
    "load_from_cp, expected",
    [(None, "ERROR UNRESOLVED_ROUTINE"), ("true", "VALUE [1.0, 2.0]")],
    ids=["default", "extra_conf_true"],
)
def test_spark_ml_functions_need_the_classpath_extensions(
    tmp_path, load_from_cp, expected
):
    """A default session runs no classpath session-extension provider,
    so Spark ML's SQL functions are not registered and
    ``vector_to_array`` does not resolve; with the conf set back in
    ``extra_conf`` it does. Either way the JVM maps the archive and
    ``get_spark`` warns of nothing. This checks what the conf does, so
    a renamed conf fails the default case."""
    extra = {"spark.sql.extensions.test.loadFromCp": load_from_cp} if load_from_cp else None
    out = _run_probe(
        f"""
        import sys, warnings
        sys.path.insert(0, {REPO_ROOT!r})
        from pyspark.errors import AnalysisException
        from pyspark.ml.functions import array_to_vector, vector_to_array
        from pyspark.sql import functions as F
        from sparkgraft import session as S

        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            spark = S.get_spark("ml-probe", master="local[1]", extra_conf={extra!r})
        print("WARNINGS", [str(w.message) for w in caught
                           if issubclass(w.category, RuntimeWarning)])
        path, reason = S.archive_status(spark)
        print("ARCHIVE", "mapped" if reason is None else reason)
        arr = F.array(F.lit(1.0), F.lit(2.0))
        try:
            [row] = spark.range(1).select(
                vector_to_array(array_to_vector(arr)).alias("v")
            ).collect()
            print("VALUE", row.v)
        except AnalysisException as e:
            print("ERROR", e.getCondition())
        spark.stop()
        """,
        tmp_path,
    )
    assert expected in out
    assert "WARNINGS []" in out
    assert "ARCHIVE mapped" in out


def test_crawl_pass_workers_do_not_import_the_query_registry(tmp_path, sf_dir):
    """After a ``crawl_to_corpus`` write, the session's Python workers
    (reused across tasks) hold the library modules the crawl pass needs
    but not ``sparkgraft.queries``: the pass ships its functions by
    value, so no worker imports the whole registry."""
    out = _run_probe(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from sparkgraft import queries as Q
        from sparkgraft.session import get_spark

        spark = get_spark("worker-import-probe", master="local[2]")
        Q.QUERIES["crawl_to_corpus"](spark, {sf_dir!r}).write.mode(
            "overwrite"
        ).format("noop").save()

        def probe(batches):
            import sys

            import pyarrow as pa

            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict(
                {{
                    "warc": ["sparkgraft.warc" in sys.modules],
                    "queries": ["sparkgraft.queries" in sys.modules],
                }}
            )

        rows = spark.range(4, numPartitions=4).mapInArrow(
            probe, "warc boolean, queries boolean"
        ).collect()
        print("RAN_CRAWL", any(r.warc for r in rows))
        print("QUERIES", any(r.queries for r in rows))
        spark.stop()
        """,
        tmp_path,
    )
    assert "RAN_CRAWL True" in out
    assert "QUERIES False" in out


# a module path in Spark ML's Python or JVM package (``mllib`` is not)
_SPARK_ML = re.compile(r"\b(?:pyspark|org\.apache\.spark)\.ml\b")


def _spark_ml_uses(source: str) -> list[int]:
    """Lines of ``source`` that import ``pyspark.ml`` or name a Spark ML
    module in code: an import, a dotted attribute chain (``jvm.org.
    apache.spark.ml...``) or a string (``getattr(jvm, "org...")``).
    Docstrings and other bare string statements do not count."""
    tree = ast.parse(source)
    bare = {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [f"{node.module}.{a.name}" for a in node.names]
        elif isinstance(node, ast.Attribute):
            names = [ast.unparse(node)]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names = [] if id(node) in bare else [node.value]
        else:
            continue
        if any(_SPARK_ML.search(n) for n in names):
            lines.add(node.lineno)
    return sorted(lines)


def test_spark_ml_use_is_detected():
    """The guard below flags each way of reaching Spark ML, and no
    docstring, comment or ``mllib`` name."""
    source = textwrap.dedent(
        '''
        """Mentions pyspark.ml and org.apache.spark.ml in a docstring."""
        import pyspark.ml.functions
        from pyspark.ml import functions
        from pyspark import ml
        f = spark._jvm.org.apache.spark.ml.functions
        g = getattr(jvm, "org.apache.spark.ml.functions")
        # org.apache.spark.ml in a comment
        from pyspark.mllib import linalg
        h = "org.apache.spark.mllib.linalg"
        '''
    )
    assert _spark_ml_uses(source) == [3, 4, 5, 6, 7]


def test_nothing_uses_spark_ml():
    """``session.get_spark`` sessions skip the classpath extension that
    registers Spark ML's SQL functions (``vector_to_array`` and the
    rest), so the library, its tools and its entry points must not use
    Spark ML."""
    root = Path(REPO_ROOT)
    paths = [
        *sorted((root / "sparkgraft").rglob("*.py")),
        *sorted((root / "tools").rglob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    offenders = [
        f"{path.relative_to(root)}:{line}"
        for path in paths
        for line in _spark_ml_uses(path.read_text())
    ]
    assert offenders == [], "Spark ML is used at " + ", ".join(offenders)
