"""Output checks against the oracle and the curation reference.

Pure pyarrow, no Spark: outputs are read from the files the product
paths wrote.  A check returns ``(rows_checked, rows_mismatched)``;
a mismatched row is one that is missing, extra or different, counted
over the multiset of rows, so a dropped, duplicated or perturbed row
each counts once.  Doubles are compared after rounding to 9 decimal
places (the engine's JVM arithmetic and the oracle's Python arithmetic
may differ in the last bits).
"""

from __future__ import annotations

import collections
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from inputs import RESULTS_SCHEMA, SPANS_SCHEMA

SHARDS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("rng", pa.int64()),
                           ("shard", pa.int64()), ("n_tokens", pa.int64())])


def canonical(table: pa.Table, schema: pa.Schema, keys: list[str]) -> pa.Table:
    table = table.select(schema.names).cast(schema)
    for i, field in enumerate(schema):
        if pa.types.is_floating(field.type):
            table = table.set_column(i, field, pc.round(table.column(i), 9))
    return table.sort_by([(k, "ascending") for k in keys])


def _hashable(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    return v


def diff_rows(got: pa.Table, want: pa.Table) -> int:
    """Rows in the symmetric multiset difference of two canonical tables."""
    if got.equals(want):
        return 0
    g = collections.Counter(_hashable(r) for r in got.to_pylist())
    w = collections.Counter(_hashable(r) for r in want.to_pylist())
    return sum(((g - w) + (w - g)).values())


def read_dir(path: str) -> pa.Table:
    """A parquet directory as Spark wrote it (hive partition columns
    become int64 columns; ``_``/``.`` files are skipped)."""
    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True).to_table()


class Expected:
    """Canonical expected tables, built once and reused for every job."""

    def __init__(self, results: pa.Table | None = None,
                 spans: pa.Table | None = None,
                 shards: pa.Table | None = None):
        self.results = (None if results is None else
                        canonical(results, RESULTS_SCHEMA,
                                  ["doc_id", "param_id"]))
        self.spans = (None if spans is None else
                      canonical(spans, SPANS_SCHEMA, ["doc_id"]))
        self.shards = (None if shards is None else
                       canonical(shards, SHARDS_SCHEMA, ["doc_id"]))

    def check_results(self, got: pa.Table) -> tuple[int, int]:
        got = canonical(got, RESULTS_SCHEMA, ["doc_id", "param_id"])
        return self.results.num_rows, diff_rows(got, self.results)

    def check_spans(self, got: pa.Table) -> tuple[int, int]:
        got = canonical(got, SPANS_SCHEMA, ["doc_id"])
        return self.spans.num_rows, diff_rows(got, self.spans)

    def check_shards(self, got: pa.Table) -> tuple[int, int]:
        got = canonical(got, SHARDS_SCHEMA, ["doc_id"])
        return self.shards.num_rows, diff_rows(got, self.shards)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's bookkeeping files
    (``_SUCCESS``, ``.crc``) excluded."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size
