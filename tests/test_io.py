from __future__ import annotations

import io as _io
import contextlib
import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from sparkgraft import io as IO
from sparkgraft.relational import salted_join


def plan_of(df) -> str:
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    IO.write_parquet(df, str(tmp_path / "t"))
    back = spark.read.parquet(str(tmp_path / "t"))
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}") for i in range(30)], "id int, dt string"
    )
    root = str(tmp_path / "part")
    IO.write_parquet(df, root, partition_by=("dt",))
    pruned = IO.read_partitioned(spark, root, {"dt": "2024-01-02"})
    assert pruned.count() == 10
    # the filter must reach the scan as a PartitionFilter, not a
    # post-scan Filter — the whole point of replacing the reference's
    # path templating (SURVEY §2.1 S1)
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan
    assert "dt" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_csv_requires_explicit_schema(spark, tmp_path):
    p = str(tmp_path / "spec.csv")
    with open(p, "w") as f:
        f.write("channel,version,event_name\nweb,1.2,signup\n")
    df = IO.read_csv(spark, p, "channel string, version string, event_name string")
    row = df.collect()[0]
    # schema is pinned: version stays a string, never inference-dependent
    assert row.version == "1.2" and isinstance(row.version, str)


def test_single_csv_sink(spark, tmp_path):
    import glob

    df = spark.createDataFrame([(1, "x")], "id int, v string")
    out = str(tmp_path / "out_csv")
    IO.write_single_csv(df, out)
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1  # coalesce(1): exactly one data file


def test_salted_join_matches_plain_join(spark):
    # heavily skewed left side: one hot key
    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 1)], "k int, payload int"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "a"), (4, "unused")], "k int, name string")
    plain = left.join(right, "k").select("k", "payload", "name")
    salted = salted_join(left, right, "k").select("k", "payload", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with NO
    Exchange — the pay-once-at-ingest layout that removes the shuffle
    from every downstream fact-fact join."""
    from sparkgraft.io import read_table

    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    IO.write_bucketed(
        lineitem, "li_b", str(tmp_path / "li"), ("l_orderkey",), 4,
        sort_cols=("l_orderkey",),
    )
    IO.write_bucketed(
        orders, "ord_b", str(tmp_path / "ord"), ("o_orderkey",), 4,
        sort_cols=("o_orderkey",),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, od = spark.table("li_b"), spark.table("ord_b")
        joined = li.join(od, li.l_orderkey == od.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan
        plain = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        )
        assert joined.count() == plain.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_register_views_sql_surface(spark, sf_dir):
    IO.register_views(spark, sf_dir, "events", "orders")
    n = spark.sql("SELECT count(*) AS n FROM events").collect()[0].n
    assert n > 0


def test_overwrite_partitions_replaces_only_present(spark, tmp_path):
    """Dynamic partition overwrite: recomputing day 2 must leave days
    1 and 3 byte-identical, replace day 2, and be idempotent on
    re-run (the backfill/replay contract)."""
    root = str(tmp_path / "daily")
    full = spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20), (3, "d3", 30)],
        "id int, day string, v int",
    )
    IO.overwrite_partitions(full, root, ("day",))

    day2_fixed = spark.createDataFrame(
        [(2, "d2", 99)], "id int, day string, v int"
    )
    IO.overwrite_partitions(day2_fixed, root, ("day",))
    got = {
        (r.id, r.day, r.v) for r in spark.read.parquet(root).collect()
    }
    assert got == {(1, "d1", 10), (2, "d2", 99), (3, "d3", 30)}

    # replay: same write again -> same state
    IO.overwrite_partitions(day2_fixed, root, ("day",))
    got2 = {
        (r.id, r.day, r.v) for r in spark.read.parquet(root).collect()
    }
    assert got2 == got


def test_compact_partitions_collapses_small_files(spark, tmp_path):
    """Compaction: a partition fragmented across many small files is
    rewritten as few files with identical content, in a NEW root."""
    import glob

    src = str(tmp_path / "frag")
    dest = str(tmp_path / "compact")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("day"),
    )
    # fragment: 16 shuffle partitions -> ~16 files per day directory
    df.repartition(16).write.partitionBy("day").parquet(src)
    frag_files = glob.glob(f"{src}/day=*/*.parquet")
    assert len(frag_files) > 8, "fixture failed to fragment"

    IO.compact_partitions(spark, src, dest, ("day",))
    compact_files = glob.glob(f"{dest}/day=*/*.parquet")
    per_day: dict[str, int] = {}
    for f in compact_files:
        day = f.split("day=")[1].split("/")[0]
        per_day[day] = per_day.get(day, 0) + 1
    assert set(per_day) == {"0", "1"}
    assert all(n <= 2 for n in per_day.values()), per_day

    a = {(r.id, r.day) for r in spark.read.parquet(src).collect()}
    b = {(r.id, r.day) for r in spark.read.parquet(dest).collect()}
    assert a == b and len(a) == 2000


def test_read_jsonl_explicit_schema_and_dead_letter(spark, tmp_path):
    from sparkgraft.io import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "second doc"}\n'
        "this line is not json at all\n"
        '{"doc_id": 3, "text": null}\n'
    )
    out = read_jsonl(spark, str(p), "doc_id bigint, text string").collect()
    good = {r.doc_id: r.text for r in out if r._corrupt_record is None}
    bad = [r for r in out if r._corrupt_record is not None]
    assert good == {1: "hello world", 2: "second doc", 3: None}
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record
    # malformed lines carry NULL data columns (quarantine, not abort)
    assert bad[0].doc_id is None


def test_jsonl_round_trip(spark, tmp_path):
    from sparkgraft.io import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "hello", "en"), (2, None, "de"), (3, "third", None)],
        "doc_id long, text string, lang string",
    )
    p = str(tmp_path / "out_jsonl")
    write_jsonl(df, p)
    back = read_jsonl(spark, p, "doc_id long, text string, lang string")
    rows = back.collect()
    # (corrupt-only projections are disallowed on raw JSON scans —
    # see the read_jsonl docstring caveat — so inspect collected rows)
    assert all(r._corrupt_record is None for r in rows)
    got = {(r.doc_id, r.text, r.lang) for r in rows}
    want = {(1, "hello", "en"), (2, None, "de"), (3, "third", None)}
    assert got == want


def test_read_jsonl_custom_dead_letter_column(spark, tmp_path):
    from sparkgraft.io import read_jsonl

    p = tmp_path / "docs2.jsonl"
    p.write_text('{"doc_id": 1}\nbroken line\n')
    rows = read_jsonl(
        spark, str(p), "doc_id bigint", bad_record_col="dead"
    ).collect()
    bad = [r for r in rows if r.dead is not None]
    assert len(bad) == 1 and "broken" in bad[0].dead


def test_orc_round_trip_with_partition_pruning(spark, tmp_path):
    from sparkgraft.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
        "id long, part string, v long",
    )
    p = str(tmp_path / "orc")
    write_orc(df, p, partition_by=("part",))
    back = read_orc(spark, p)
    assert {(r.id, r.v) for r in back.collect()} == {(1, 10), (2, 20), (3, 30)}
    plan = (
        back.where("part = 'a'")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(part" in plan  # pruned at the scan


def test_write_training_shards_deterministic_manifest(spark, sf_dir, tmp_path):
    """Shard writer: exactly num_shards files, a footer-derived manifest
    whose row counts sum to the corpus, per-shard membership identical
    across re-runs (pure function of data + seed), and a different seed
    produces a different order."""
    import json
    import os

    from sparkgraft.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p1, p2, p3 = (str(tmp_path / d) for d in ("s1", "s2", "s3"))
    m1 = IO.write_training_shards(docs, p1, "doc_id", seed="ep0", num_shards=4)
    m2 = IO.write_training_shards(docs, p2, "doc_id", seed="ep0", num_shards=4)
    IO.write_training_shards(docs, p3, "doc_id", seed="ep1", num_shards=4)

    assert len(m1) == 4
    assert sum(e["n_rows"] for e in m1) == docs.count()
    with open(os.path.join(p1, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["num_shards"] == 4 and man["total_rows"] == docs.count()

    def shard_sets(path):
        out = []
        files = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        for f in files:
            ids = {
                r.doc_id
                for r in spark.read.parquet(os.path.join(path, f)).collect()
            }
            out.append(ids)
        return out

    # same seed -> identical shard membership, shard by shard
    assert shard_sets(p1) == shard_sets(p2)
    # different seed -> a different epoch order (membership shifts)
    assert shard_sets(p1) != shard_sets(p3)
    # within-shard order follows the shuffle key (loader reads sequentially)
    first = sorted(os.listdir(p1))
    pf = next(f for f in first if f.endswith(".parquet"))
    keys = [
        r.shuffle_key
        for r in spark.read.parquet(os.path.join(p1, pf)).collect()
    ]
    assert keys == sorted(keys)


def test_zorder_write_tightens_file_ranges_on_both_cols(spark, tmp_path, sf_dir):
    """The point of Z-ordering: after clustering on (a, b), EVERY
    file's min/max footer range is narrow on BOTH columns, so
    predicate pushdown can skip files for queries on either. A
    hash-random layout has every file spanning ~the full domain."""
    import pyarrow.parquet as pq

    from sparkgraft.io import read_table, zorder_write

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zpath = str(tmp_path / "zordered")
    rpath = str(tmp_path / "random")
    zorder_write(li, zpath, ["l_partkey", "l_suppkey"], num_files=8)
    li.repartition(8).write.mode("overwrite").parquet(rpath)

    import glob

    def avg_range_frac(root, col):
        fracs = []
        glo, ghi = None, None
        metas = []
        for f in glob.glob(f"{root}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if los:
                metas.append((min(los), max(his)))
        glo = min(m[0] for m in metas)
        ghi = max(m[1] for m in metas)
        span = ghi - glo or 1
        for lo, hi in metas:
            fracs.append((hi - lo) / span)
        return sum(fracs) / len(fracs)

    for col in ("l_partkey", "l_suppkey"):
        z = avg_range_frac(zpath, col)
        r = avg_range_frac(rpath, col)
        # random layout: every file spans ~everything; z-order: a
        # fraction of the domain on BOTH interleaved columns at once
        assert r > 0.9, (col, r)
        assert z < 0.6 * r, (col, z, r)

    # layout must not change the data
    back = spark.read.parquet(zpath)
    assert back.count() == li.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, li.collect()))


def test_layout_manifest_prunes_files_after_zorder(spark, tmp_path, sf_dir):
    """The full z-order story: clustered write -> footer-derived
    manifest -> a narrow predicate opens a FRACTION of files (vs all
    of them on a random layout) and still returns exactly the rows a
    full scan would."""
    from sparkgraft.io import (
        read_manifest_pruned,
        read_table,
        write_layout_manifest,
        zorder_write,
    )

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zpath = str(tmp_path / "z")
    rpath = str(tmp_path / "r")
    # 32 files: with k interleaved columns, one column's value space
    # splits into ~files^(1/k) slabs — 8 files would quarter the curve
    # but only HALVE each single column (top bits alternate columns)
    zorder_write(li, zpath, ["l_partkey", "l_suppkey"], num_files=32)
    li.repartition(32).write.mode("overwrite").parquet(rpath)
    write_layout_manifest(zpath, ["l_partkey", "l_suppkey"])
    write_layout_manifest(rpath, ["l_partkey", "l_suppkey"])

    import pyspark.sql.functions as F  # noqa: N812

    stats = li.agg(F.min("l_partkey"), F.max("l_partkey")).collect()[0]
    lo = stats[0]
    hi = lo + (stats[1] - stats[0]) // 50  # narrow 2% range
    zdf, zread, ztot = read_manifest_pruned(spark, zpath, "l_partkey", lo, hi)
    rdf, rread, rtot = read_manifest_pruned(spark, rpath, "l_partkey", lo, hi)
    assert ztot == rtot == 32
    assert rread == 32  # random layout: every file spans the domain
    # clustered layout: a narrow 1-D slab touches ~files^(1/2) curve
    # segments (sqrt(32) ~ 6) plus boundary files — far under 32
    assert zread <= 12
    # pruning is a superset guarantee: exact filter on top matches scan
    want = sorted(
        map(tuple, li.where(F.col("l_partkey").between(lo, hi)).collect())
    )
    got = sorted(
        map(
            tuple,
            zdf.where(F.col("l_partkey").between(lo, hi)).collect(),
        )
    )
    assert got == want

    # disjoint range -> zero files, schema preserved
    empty, n, _ = read_manifest_pruned(
        spark, zpath, "l_partkey", stats[1] + 10, stats[1] + 20
    )
    assert n == 0 and empty.count() == 0
    assert set(empty.columns) == set(li.columns)


def test_bloom_manifest_prunes_point_lookups(spark, sf_dir, tmp_path):
    """Per-file Bloom index: a point lookup on a high-cardinality key
    opens a strict subset of files (min/max stats could prune nothing —
    the key is hash-distributed so every file spans the whole range),
    the result equals the full-scan filter, and a Bloom miss on every
    file yields an empty frame with the right schema."""
    from sparkgraft.io import read_bloom_pruned, read_table, write_bloom_manifest

    out = str(tmp_path / "docs")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # hash-distribute so each file holds an arbitrary id subset: the
    # worst case for range stats, the design case for Bloom
    docs.repartition(8, "doc_id").write.parquet(out)
    m = write_bloom_manifest(spark, out, "doc_id")
    assert len(m["files"]) == 8

    full = docs.where(F.col("doc_id") == 137)
    pruned, n_read, n_total = read_bloom_pruned(spark, out, 137)
    got = sorted(map(tuple, pruned.where(F.col("doc_id") == 137).collect()))
    assert got == sorted(map(tuple, full.collect())) and len(got) == 1
    assert n_total == 8
    # 3 hashes in 2^16 bits over ~60 keys/file: false-positive odds are
    # astronomically small, so exactly ONE file (the key's home) opens
    assert n_read == 1

    # absent key: every file pruned, empty result, schema preserved
    missing, n_read, _ = read_bloom_pruned(spark, out, 10_000_019)
    assert n_read == 0
    assert missing.count() == 0
    assert set(missing.columns) == {"doc_id", "source", "n_chars"}


def test_bloom_manifest_superset_guarantee_every_key(spark, sf_dir, tmp_path):
    """No false negatives, ever: for EVERY key in the table, the pruned
    read must still contain that key's rows."""
    from sparkgraft.io import read_bloom_pruned, read_table, write_bloom_manifest

    out = str(tmp_path / "docs2")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    docs.repartition(4, "source").write.parquet(out)
    write_bloom_manifest(spark, out, "doc_id", num_bits=1 << 10)  # tight: FPs likely
    ids = [r.doc_id for r in docs.select("doc_id").collect()][:50]
    for k in ids:
        pruned, n_read, n_total = read_bloom_pruned(spark, out, k)
        assert n_read >= 1
        assert pruned.where(F.col("doc_id") == k).count() == 1, k


def test_read_table_footer_schema_matches_spark_inference(spark, sf_dir, tmp_path):
    """read_table hands the reader the schema it reads from the parquet
    footer; it must be the one Spark's own inference gives, for every
    test table and for a TIMESTAMP(NANOS) column (read as nanos-since-
    epoch longs, then truncated to a microsecond TIMESTAMP_NTZ)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = pa.table(
        {
            "id": pa.array([1, None], pa.int64()),
            "ts": pa.array([1_500_000_000_123_456_789, None], pa.timestamp("ns")),
            "tags": pa.array([["a"], None], pa.list_(pa.string())),
        }
    )
    pq.write_table(nanos, str(tmp_path / "nanos.parquet"), version="2.6")
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    assert len(paths) == len(IO.TPCH_TABLES)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try:
        for path in paths + [str(tmp_path / "nanos.parquet")]:
            _, schema = IO._footer_schema(path)
            assert schema is not None, path
            given = spark.read.schema(schema).parquet(path).schema
            assert given == spark.read.parquet(path).schema, path
        assert IO._footer_schema(str(tmp_path / "nanos.parquet"))[0] == ["ts"]
        rows = IO.read_table(spark, str(tmp_path), "nanos").orderBy("id").collect()
        assert [r.ts for r in rows] == [
            None,
            datetime.datetime(2017, 7, 14, 2, 40, 0, 123456),
        ]
    finally:
        spark.conf.unset(key)


def test_read_table_launches_no_job(spark, sf_dir):
    """Building a table frame runs no Spark job (no footer inference);
    a schema-less ``spark.read.parquet`` in a second group is the
    control. Listener events arrive in order, so once the control's job
    shows, any job read_table launched would show too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setLocalProperty("spark.jobGroup.id", "read-table-no-job")
        for name in IO.TPCH_TABLES:
            IO.read_table(spark, sf_dir, name)
        sc.setLocalProperty("spark.jobGroup.id", "read-table-control")
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup("read-table-control"):
            assert time.monotonic() < deadline, "control job never showed"
            time.sleep(0.05)
        assert list(tracker.getJobIdsForGroup("read-table-no-job")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
