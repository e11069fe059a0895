"""The benchmark's workloads: inputs, query and sink.

Query names are pinned here rather than imported from the program, so a
change to the program's own lists cannot change what is measured.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame

from gen import InputSpec


@dataclass(frozen=True)
class Sink:
    """How a workload's final output is written, and read back so the
    written bytes themselves are checked against the oracle."""

    write: Callable[[DataFrame, str, int], None]
    read: Callable[[str, pa.Schema], pa.Table]


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: InputSpec
    # the string column each module probe reads (json_ops.parse, and
    # text.tokenize and dedup.signature, which share one column)
    parse_col: str
    text_col: str
    query: str  # its output goes through the sink
    sink: Sink


def data_files(path: str) -> list[str]:
    """Files a sink wrote, without Spark's and the manifest's markers."""
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def _write_csv(df: DataFrame, path: str, seed: int) -> None:
    from sparkgraft import io

    io.write_single_csv(df, path)


def _read_csv(path: str, schema: pa.Schema) -> pa.Table:
    import pyarrow.csv as pacsv

    opts = pacsv.ConvertOptions(column_types=schema)
    return pa.concat_tables(
        pacsv.read_csv(f, convert_options=opts) for f in data_files(path)
    ).select(schema.names)


def _write_shards(df: DataFrame, path: str, seed: int) -> None:
    from sparkgraft import io

    io.write_training_shards(df, path, id_col="doc_id", seed=str(seed), num_shards=4)


def _read_shards(path: str, schema: pa.Schema) -> pa.Table:
    """The shards' rows; fails unless the loader manifest's row total
    equals the rows actually written."""
    import json

    import pyarrow.parquet as pq

    table = pa.concat_tables(
        pq.read_table(f, columns=schema.names) for f in data_files(path)
    )
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        total = json.load(fh)["total_rows"]
    if total != table.num_rows:
        raise ValueError(f"shard manifest says {total} rows, shards hold {table.num_rows}")
    return table


CSV = Sink(_write_csv, _read_csv)
SHARDS = Sink(_write_shards, _read_shards)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="conformance_bulk",
            inputs=InputSpec("events", base_rows=12_500, replicas=8),
            parse_col="props",
            # one token per row: the text and dedup layers are off this
            # workload's path, and a signature per props payload would
            # cost more than the whole workload
            text_col="event_type",
            query="conformance_flagship",
            sink=CSV,
        ),
        Workload(
            name="corpus_bulk",
            inputs=InputSpec("documents", base_rows=400, replicas=2),
            parse_col="text",  # not JSON: every row takes the parser's reject path
            text_col="text",
            query="crawl_to_corpus",
            sink=SHARDS,
        ),
    )
}
