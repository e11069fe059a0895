"""Tar-shard sample containers (the WebDataset convention).

Large-scale multimodal training jobs stream samples from *tar shards*:
each sample is a group of files sharing a basename key (``000123.txt``,
``000123.json``, ``000123.jpg``), groups are stored contiguously, and
shards are plain POSIX tar files a few hundred MB each — sequential
I/O friendly, seekable by shard, and readable by anything that speaks
tar (the layout popularized by the WebDataset library; the format
itself is just POSIX.1-1988 ustar, 512-byte blocks).  This module is
the container tier for that layout, the same role ``warc.py`` plays
for crawl archives:

- :func:`build_tar_shard` / :func:`parse_tar_shard` — deterministic
  bytes-level writer and a recovering reader (pure functions, no
  Spark);
- :func:`tar_samples` — one Arrow ``relational.map_rows`` crack pass
  over a ``(shard_id, payload)`` DataFrame (the ``binaryFile``
  source's shape), one row per member, corrupt shards DEAD-LETTER as rows
  instead of killing the job (the ``warc_responses`` contract);
- :func:`samples_wide` — pivot member rows to one row per sample with
  a binary column per requested extension;
- :func:`write_tar_shards` / :func:`read_tar_shards` — the disk sink
  and source: deterministic key-hash shard assignment, one shuffle to
  co-locate a shard's samples, atomic per-shard publish
  (tmp + fsync + ``os.replace``, the ``posix_pointer_commit``
  discipline from similarity.py), and a driver-written manifest whose
  sha256 sums let the reader refuse silently-corrupted shards.

Scale shape: the sink is ONE shuffle (samples -> their shard) and the
shard builds run executor-side with bytes never transiting the driver
(the manifest collect is <= ``n_shards`` bounded rows, the accepted
bounded-collect pattern).  The source is shuffle-free: the
``binaryFile`` source splits whole files across executors and each
shard parses independently.  Shard payloads are capped at 1 GiB like
WARC files, so whole-shard parsing bounds executor memory by
construction — pick ``n_shards`` so shards land well under the cap
(``packing.auto_shard_width`` is the sizing helper).

Determinism: a shard's bytes are a pure function of its sample set —
fixed ustar format, zeroed mtime/uid/gid, fixed mode, members sorted
by key — so rebuilding the same corpus yields byte-identical shards
and stable manifest checksums (content-addressable storage and cache
hits at 100 TB depend on exactly this).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import re
import tarfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import map_rows

__all__ = [
    "build_tar_shard",
    "parse_tar_shard",
    "tar_samples",
    "samples_wide",
    "write_tar_shards",
    "read_tar_shards",
    "stream_tar_shards",
]

# Whole-shard parse cap — same bound and rationale as warc.py: a
# malformed length field must not balloon one task's memory.
MAX_SHARD_BYTES = 1 << 30

# Sample keys become the part of the member name before the FIRST
# dot (the WebDataset split rule), so a dot inside the key would
# silently shift bytes between key and extension on read-back.
# Slashes are allowed (keys may carry a directory prefix).
_KEY_RE = re.compile(r"[A-Za-z0-9_\-/=%]+\Z")


def _check_key(key: str) -> None:
    if not _KEY_RE.match(key):
        raise ValueError(
            f"tar shard sample key {key!r} must match {_KEY_RE.pattern}"
            " (no dots: the member name splits at the first '.')"
        )


def build_tar_shard(
    samples: Sequence[tuple[str, Sequence[tuple[str, bytes]]]],
    sort_keys: bool = True,
) -> bytes:
    """Serialize ``[(key, [(ext, content), ...]), ...]`` into one
    deterministic ustar archive: member ``{key}.{ext}`` per part,
    parts of one sample contiguous (the format's grouping contract),
    samples sorted by key (``sort_keys=False`` keeps caller order for
    curriculum-ordered shards), metadata zeroed (mtime/uid/gid 0,
    mode 0644) so identical content yields identical bytes.
    """
    keys = [k for k, _ in samples]
    if sort_keys:
        order = sorted(range(len(samples)), key=lambda i: keys[i])
    else:
        order = range(len(samples))
    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as tf:
        for i in order:
            key, parts = samples[i]
            _check_key(key)
            for ext, content in parts:
                if not ext or ext.startswith("."):
                    raise ValueError(f"bad extension {ext!r} for key {key!r}")
                name = f"{key}.{ext}"
                if len(name.encode("utf-8")) > 100:
                    raise ValueError(
                        f"member name {name!r} exceeds the 100-byte ustar"
                        " name field"
                    )
                ti = tarfile.TarInfo(name)
                ti.size = len(content)
                ti.mtime = 0
                ti.uid = 0
                ti.gid = 0
                ti.uname = ""
                ti.gname = ""
                ti.mode = 0o644
                tf.addfile(ti, io.BytesIO(content))
    return buf.getvalue()


def parse_tar_shard(
    payload: bytes,
) -> tuple[list[tuple[str, bytes]], str | None]:
    """Read ``(member_name, content)`` pairs off a tar payload,
    RECOVERING a corrupt tail: members parsed before the failure are
    returned alongside the error string instead of raised away — a
    flipped bit 900 MB in must not discard the shard's good prefix.
    Short reads (truncated final member) and header corruption both
    land in the error channel.
    """
    if len(payload) > MAX_SHARD_BYTES:
        return [], f"tar: payload exceeds {MAX_SHARD_BYTES} byte cap"
    out: list[tuple[str, bytes]] = []
    try:
        tf = tarfile.open(fileobj=io.BytesIO(payload), mode="r:")
    except tarfile.TarError as e:
        return [], f"tar: unreadable archive: {e}"
    try:
        while True:
            try:
                ti = tf.next()
            except tarfile.TarError as e:
                return out, f"tar: corrupt header after {len(out)} members: {e}"
            if ti is None:
                return out, None
            if not ti.isfile():
                continue  # dirs/symlinks carry no sample bytes
            try:
                f = tf.extractfile(ti)
                data = f.read() if f is not None else b""
            except tarfile.TarError:
                data = None
            if data is None or len(data) != ti.size:
                got = "no" if data is None else f"{len(data)}/{ti.size}"
                return (
                    out,
                    f"tar: member {ti.name!r} truncated ({got} bytes)",
                )
            out.append((ti.name, data))
    finally:
        tf.close()


def _split_name(name: str) -> tuple[str, str]:
    """WebDataset member-name split: key = up to the FIRST dot of the
    basename's start, extension = the rest (so ``a/b.seg.json`` ->
    key ``a/b``, ext ``seg.json``)."""
    head, dot, ext = name.partition(".")
    return head, ext if dot else ""


def tar_samples(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "shard_id",
) -> DataFrame:
    """Crack tar shard payloads into member rows: one Arrow pass, one
    output row per regular member — ``(id, sample_seq, key, ext,
    content, tar_error)``.  ``sample_seq`` numbers contiguous same-key
    member runs within the shard (the format's sample grouping), so a
    key that illegally repeats NON-contiguously stays two distinct
    samples instead of silently merging.  A shard that fails to parse
    at all dead-letters as one ``key IS NULL`` row carrying
    ``tar_error``; a corrupt tail keeps its good-prefix rows AND the
    error row.  No shuffle: parsing rides whatever partitioning the
    input files arrived with.
    """

    def crack(sid, payload):
        members, err = parse_tar_shard(bytes(payload or b""))
        seq = -1
        prev_key: str | None = None
        for name, data in members:
            key, ext = _split_name(name)
            if key != prev_key:
                seq += 1
                prev_key = key
            yield sid, seq, key, ext, data, None
        if err is not None:
            yield sid, None, None, None, None, err

    return map_rows(
        files.select(F.col(id_col).cast("long").alias(id_col), payload_col),
        crack,
        "__id long, sample_seq int, key string, ext string,"
        " content binary, tar_error string",
    ).withColumnRenamed("__id", id_col)


def samples_wide(
    members: DataFrame,
    exts: Sequence[str],
    id_col: str = "shard_id",
) -> DataFrame:
    """Pivot member rows (:func:`tar_samples` output) to one row per
    SAMPLE: ``(id, sample_seq, key, n_members, <one binary column per
    requested extension>)`` — the shape a training loader consumes.
    Unrequested extensions still count in ``n_members``; missing parts
    are NULL.  One exchange (the sample-key groupBy); dead-letter rows
    (``key IS NULL``) are excluded — read them off ``tar_samples``
    directly.
    """
    aggs = [
        F.max(F.when(F.col("ext") == e, F.col("content"))).alias(e)
        for e in exts
    ]
    return (
        members.where(F.col("key").isNotNull())
        .groupBy(id_col, "sample_seq", "key")
        .agg(F.count(F.lit(1)).alias("n_members"), *aggs)
    )


def write_tar_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    parts: Sequence[tuple[str, str]],
    n_shards: int,
) -> list[dict]:
    """Shard-and-publish a sample DataFrame as tar shards plus a
    manifest.  ``parts`` maps extension -> binary/string column; keys
    assign to shards by ``pmod(xxhash64(key), n_shards)`` (stable
    across reruns and cluster sizes — the same key always lands in the
    same shard, so incremental rebuilds touch only changed shards).

    One shuffle co-locates each shard's samples; each shard builds and
    publishes executor-side — serialize with :func:`build_tar_shard`
    (keys sorted, so shard bytes are partition-order independent),
    write ``shard-{i:06d}.tar`` via tmp + fsync + ``os.replace``
    (readers never observe a half-written shard), and return a 1-row
    accounting record.  The driver collects those <= ``n_shards``
    bounded rows and atomically writes ``manifest.json`` LAST — the
    manifest is the commit point (the codes-store discipline): a crash
    mid-job leaves shards without a manifest, loudly incomplete, never
    a silently short corpus.
    """
    import pandas as pd

    if n_shards < 1:
        raise ValueError(f"write_tar_shards: need n_shards >= 1, got {n_shards}")
    os.makedirs(path, exist_ok=True)
    manifest_path = os.path.join(path, "manifest.json")
    # overwrite => retract the old commit point FIRST (crash between
    # here and the final write leaves a manifest-less dir that fails
    # loudly, never a manifest naming stale shard checksums)
    if os.path.exists(manifest_path):
        os.remove(manifest_path)

    exts = [e for e, _ in parts]
    cols = [c for _, c in parts]
    keyed = df.select(
        F.col(key_col).cast("string").alias("__key"),
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("int")
        .alias("__shard"),
        *[F.col(c).cast("binary").alias(f"__p{i}") for i, c in enumerate(cols)],
    )

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        shard = int(pdf["__shard"].iloc[0])
        part_cols = [pdf[f"__p{i}"] for i in range(len(exts))]
        samples = [
            (
                str(vals[0]),
                [
                    (exts[i], bytes(vals[1 + i] or b""))
                    for i in range(len(exts))
                ],
            )
            for vals in zip(pdf["__key"], *part_cols)
        ]
        payload = build_tar_shard(samples)
        name = f"shard-{shard:06d}.tar"
        final = os.path.join(path, name)
        tmp = final + ".tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
        return pd.DataFrame(
            {
                "shard_id": [shard],
                "file": [name],
                "n_samples": [len(samples)],
                "n_bytes": [len(payload)],
                "sha256": [hashlib.sha256(payload).hexdigest()],
            }
        )

    rows = (
        keyed.groupBy("__shard")
        .applyInPandas(
            build,
            "shard_id int, file string, n_samples long, n_bytes long,"
            " sha256 string",
        )
        .collect()  # bounded: <= n_shards accounting rows
    )
    manifest = sorted(
        (r.asDict() for r in rows), key=lambda d: d["shard_id"]
    )
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"format": "tar-shards/v1", "shards": manifest}, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, manifest_path)
    return manifest


def read_tar_shards(
    spark: SparkSession,
    path: str,
    verify: bool = True,
) -> DataFrame:
    """Read a :func:`write_tar_shards` directory back into member rows
    (:func:`tar_samples` schema, ``shard_id`` recovered from the file
    name).  The ``binaryFile`` source splits whole shard files across
    executors — shuffle-free, the 100 TB ingestion shape.

    ``verify=True`` checks each payload's sha256 against the manifest
    (broadcast as a plan literal map — the manifest is <= ``n_shards``
    entries): a shard whose bytes drifted from its recorded checksum
    dead-letters every row (``tar_error = 'tar: checksum mismatch'``)
    rather than feeding silently corrupt samples downstream.  A
    missing manifest with ``verify=True`` raises — an uncommitted
    (crashed) write must not read as an empty-but-valid corpus.
    """
    return _crack_source(
        _read_manifest(path) if verify else None,
        (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "shard-*.tar")
            .load(path)
        ),
    )


def stream_tar_shards(
    spark: SparkSession,
    path: str,
    verify: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_tar_shards`: the ``binaryFile``
    source as a file STREAM (each shard file arrives once, whole — tar
    shards are immutable after their atomic publish, so file-at-a-time
    is the natural micro-batch grain), cracked by the SAME
    ``tar_samples`` pass, checksum-verified against the SAME manifest.
    Batch/stream parity is therefore structural, and asserted over a
    multi-batch replay in tests.  The manifest read is driver-side at
    plan time: a shard added AFTER the stream starts still cracks, but
    dead-letters under ``verify=True`` until the manifest recommits —
    exactly the fail-loud contract the batch reader has.
    """
    schema = (
        "path string, modificationTime timestamp, length long,"
        " content binary"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "shard-*.tar")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _crack_source(
        _read_manifest(path) if verify else None, reader.load(path)
    )


def _read_manifest(path: str) -> dict[str, str]:
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        raise FileNotFoundError(
            f"tar shards: no manifest at {manifest_path} — the"
            " directory was never committed (write crashed before the"
            " manifest, or this is not a tar-shard store); pass"
            " verify=False to scavenge shard files anyway"
        )
    with open(manifest_path) as f:
        return {s["file"]: s["sha256"] for s in json.load(f)["shards"]}


def _crack_source(
    expected: dict[str, str] | None, source: DataFrame
) -> DataFrame:
    """Shared batch/stream tail: name -> shard_id, optional manifest
    checksum gate (good shards crack, drifted ones dead-letter whole),
    then the Arrow crack pass."""
    files = source.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("__file"),
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1),
            r"shard-(\d+)\.tar",
            1,
        )
        .cast("long")
        .alias("shard_id"),
        F.col("content").alias("payload"),
    )
    if expected is None:
        return tar_samples(files.select("shard_id", "payload"))
    if expected:
        exp = F.create_map(*[F.lit(x) for kv in expected.items() for x in kv])
        ok = F.coalesce(
            F.element_at(exp, F.col("__file"))
            == F.sha2(F.col("payload"), 256),
            F.lit(False),
        )
    else:  # committed-but-empty manifest: any shard file is a stray
        ok = F.lit(False)
    files = files.withColumn("__ok", ok)
    good = tar_samples(files.where(F.col("__ok")).select("shard_id", "payload"))
    bad = files.where(~F.col("__ok")).select(
        "shard_id",
        F.lit(None).cast("int").alias("sample_seq"),
        F.lit(None).cast("string").alias("key"),
        F.lit(None).cast("string").alias("ext"),
        F.lit(None).cast("binary").alias("content"),
        F.lit("tar: checksum mismatch").alias("tar_error"),
    )
    return good.unionByName(bad)
