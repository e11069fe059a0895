"""Seeded input tables for the benchmark workloads.

Tables are built with numpy and pyarrow only, never with Spark, so no
change to the program under test can alter its own inputs. The same
(workload, seed) always yields byte-identical parquet files.

Each workload's input is one base replica drawn from the seed and then
replicated ``replicas`` times:

- ``events`` (conformance_bulk): replica k offsets ``event_id`` by
  ``k * EVENT_ID_STRIDE`` and ``user_id`` by ``k * USER_ID_STRIDE``.
  Both strides keep every residue the conformance queries branch on
  (``event_id % 3, 4, 5, 7`` and ``user_id % 2``), so every
  conformance count is exactly ``replicas`` times the base answer.
  Each ``props`` payload carries the spec keys plus 2-6 filler keys
  from the ``zf_`` namespace, which no query reads.
- ``documents`` (corpus_bulk): replica k suffixes every token with
  ``_r<k>`` and offsets ``doc_id`` by ``k * DOC_ID_STRIDE``, so the
  replicas are independent mini-corpora (near-duplicate output grows
  linearly with the replica count, not quadratically).

``ensure`` writes the tables once per (workload, seed) under the cache
directory, runs every query's DuckDB oracle over them and stores the
canonical output hashes next to the inputs, so the timed runs never pay
for generation or for the oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from canon import canonical_hash

EVENT_ID_STRIDE = 10_080_000  # multiple of lcm(3, 4, 5, 7) = 420
USER_ID_STRIDE = 1_000_000  # even: keeps user_id % 2
DOC_ID_STRIDE = 10_000_000

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
NEAR_DUP_FRAC = 0.05
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00, microseconds
SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class InputSpec:
    table: str
    base_rows: int
    replicas: int


def _events_base(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(n // 60, 10)
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, n))
    user = rng.integers(0, n_users, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.gamma(2.0, 40.0, n), 2)
    k = rng.integers(0, 100, n)
    shape = rng.random(n)  # k set (90%), k null (5%), k absent (5%)
    has_session = rng.random(n) < 0.4
    n_fill = rng.integers(2, 7, n)
    fill_int = rng.integers(0, 10_000, (n, 6))
    fill_word = rng.integers(0, len(VOCAB), (n, 6))
    props = []
    for i in range(n):
        parts = []
        if shape[i] < 0.90:
            parts.append(f'"k": {k[i]}')
        elif shape[i] < 0.95:
            parts.append('"k": null')
        if has_session[i]:
            parts.append(f'"session_id": "s{user[i]}"')
        for j in range(n_fill[i]):
            v = f'"{VOCAB[fill_word[i, j]]}"' if j % 2 else str(fill_int[i, j])
            parts.append(f'"zf_{j}": {v}')
        props.append("{" + ", ".join(parts) + "}")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[t] for t in etype]),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def _events_replica(base: pa.Table, k: int) -> pa.Table:
    if k == 0:
        return base
    return base.set_column(
        0, "event_id", pa.array(base["event_id"].to_numpy() + k * EVENT_ID_STRIDE)
    ).set_column(
        2, "user_id", pa.array(base["user_id"].to_numpy() + k * USER_ID_STRIDE)
    )


def _documents_base(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    dup = rng.random(n) < NEAR_DUP_FRAC
    texts: list[str] = []
    pos = 0
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos : pos + lengths[i]]))
        pos += lengths[i]
    return texts


def _documents(rng: np.random.Generator, n: int, replicas: int) -> pa.Table:
    texts = _documents_base(rng, n)
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": []}
    for k in range(replicas):
        salt = f"_r{k}"
        for i, t in enumerate(texts):
            cols["doc_id"].append(k * DOC_ID_STRIDE + i)
            cols["text"].append(t if k == 0 else " ".join(w + salt for w in t.split(" ")))
            cols["lang"].append(LANGS[lang[i]])
            cols["source"].append(f"src{i % N_SOURCES}")
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"]),
            "lang": pa.array(cols["lang"]),
            "source": pa.array(cols["source"]),
            "n_chars": pa.array([len(t) for t in cols["text"]], pa.int64()),
        }
    )


def build_tables(spec: InputSpec, seed: int) -> dict[str, pa.Table]:
    """The workload's tables; ``base_events`` is replica 0 alone."""
    rng = np.random.default_rng([seed, spec.base_rows, spec.replicas])
    if spec.table == "events":
        base = _events_base(rng, spec.base_rows)
        full = pa.concat_tables(_events_replica(base, k) for k in range(spec.replicas))
        return {"events": full, "base_events": base}
    return {"documents": _documents(rng, spec.base_rows, spec.replicas)}


def _duckdb_answers(path: str, view: str, sqls: dict[str, str]) -> dict[str, pa.Table]:
    """Each SQL's answer with the parquet file ``path`` as view ``view``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{path}'")
        return {name: con.sql(sql).arrow() for name, sql in sqls.items()}
    finally:
        con.close()


def ensure(cache: str, workload: str, spec: InputSpec, seed: int,
           query: str, oracles: dict[str, str]) -> tuple[str, dict]:
    """Directory holding the workload's inputs for ``seed`` and its
    manifest (row counts, bytes, oracle hashes), built on first use.

    The cache key includes a digest of the oracle SQL, so a program
    change that edits an oracle never reads a stale answer."""
    wanted = {query: oracles[query]}
    key = hashlib.sha256(json.dumps(wanted, sort_keys=True).encode()).hexdigest()[:12]
    name = f"{workload}-b{spec.base_rows}x{spec.replicas}-s{seed}-{key}"
    dir_ = os.path.join(cache, name)
    manifest_path = os.path.join(dir_, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return dir_, json.load(fh)

    t0 = time.monotonic()
    tmp = dir_ + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        manifest = _build(tmp, workload, spec, seed, wanted, oracles)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    manifest["build_s"] = time.monotonic() - t0
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    try:
        os.rename(tmp, dir_)
    except OSError:  # another run finished the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)
    with open(manifest_path) as fh:
        return dir_, json.load(fh)


def _build(tmp: str, workload: str, spec: InputSpec, seed: int,
           wanted: dict[str, str], oracles: dict[str, str]) -> dict:
    tables = build_tables(spec, seed)
    for t, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"))
    manifest = {
        "workload": workload,
        "seed": seed,
        "base_rows": spec.base_rows,
        "replicas": spec.replicas,
        "tables": {
            t: {
                "rows": tbl.num_rows,
                "bytes": os.path.getsize(os.path.join(tmp, f"{t}.parquet")),
            }
            for t, tbl in tables.items()
        },
        "input_rows": tables[spec.table].num_rows,
        "oracle": {},
    }
    answers = _duckdb_answers(os.path.join(tmp, f"{spec.table}.parquet"), spec.table, wanted)
    for name, table in answers.items():
        rows, digest = canonical_hash(table)
        schema = table.schema.remove_metadata().serialize().to_pybytes().hex()
        manifest["oracle"][name] = {"rows": rows, "hash": digest, "schema": schema}
    if spec.table == "events":
        base = _duckdb_answers(
            os.path.join(tmp, "base_events.parquet"), "events",
            {"flagship": oracles["conformance_flagship"]},
        )
        manifest["base_conformance"] = base["flagship"].to_pylist()
    return manifest
