"""Parquet directories the engine writes, read back without schema inference.

``spark.read.parquet(dir)`` with no schema runs a one-task Spark job that
reads a footer to infer the schema. On the serving path that job costs more
than the summary-sized read it precedes, and a warm result-cache hit used to
pay it twice (MV version, then cache entry). Every versioned store the
engine keeps — MV versions, result-cache entries, table versions written by
``Engine.apply_changes``, streaming state — writes through ``write_parquet``,
which records ``df.schema``, and reads through ``read_parquet``, which then
passes that schema to the reader and launches no job.

Why a recorded schema is exactly the inferred one: the parquet footer
carries the Catalyst schema Spark wrote, and a file source forces every
field nullable whether its schema was inferred or given. So the relation,
the optimized plan and the result-cache fingerprint are identical either
way (asserted per store in tests/test_parquet_store.py). A partitioned
write is the exception — partition columns are inferred from directory
names with their own types and move last — so it records nothing and its
first read infers.

The memo is keyed on (absolute path, directory mtime_ns) and is
write-through: engine directories are copy-on-write, so a new version is a
new path, and an overwrite at the same path replaces the entry or changes
the key. A miss (a directory written by another process or before a
restart) infers once and records the result. The same bounded memo holds
``operators.mv.stored_rows``' footer row counts.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

# Entries kept, least recently used evicted first. An engine has a handful
# of live versions per store plus its live cache entries; a miss after
# eviction only costs the inference job again.
_CAP = 512
# (abs path, dir mtime_ns) -> {"schema": StructType, "rows": int}. One
# memo per process: it describes directories, not an engine, so every
# engine and stream in the process shares it.
_MEMO: OrderedDict[tuple[str, int], dict] = OrderedDict()
# foreachBatch bodies run on a callback thread beside the caller's reads
_LOCK = threading.Lock()


def _key(path: str) -> tuple[str, int] | None:
    try:
        return os.path.abspath(path), os.stat(path).st_mtime_ns
    except OSError:
        return None


def _lookup(key, field: str):
    if key is None:
        return None
    with _LOCK:
        entry = _MEMO.get(key)
        if entry is None or field not in entry:
            return None
        _MEMO.move_to_end(key)
        return entry[field]


def _record(key, field: str, value) -> None:
    if key is None:
        return
    with _LOCK:
        _MEMO.setdefault(key, {})[field] = value
        _MEMO.move_to_end(key)
        while len(_MEMO) > _CAP:
            _MEMO.popitem(last=False)


def memoized(path: str, field: str, compute):
    """``compute()`` — a metadata fact about directory ``path`` — memoized
    until the directory changes."""
    key = _key(path)
    value = _lookup(key, field)
    if value is None:
        value = compute()
        _record(key, field, value)
    return value


def write_parquet(df: DataFrame, path: str,
                  partition_by: tuple[str, ...] = ()) -> None:
    """Overwrite ``path`` with ``df`` and record its schema for
    ``read_parquet`` (unless partitioned: see the module docstring)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    key = _key(path)
    with _LOCK:
        _MEMO.pop(key, None)
    if not partition_by:
        _record(key, "schema", df.schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the memoized schema — no inference
    job on a hit; on a miss, infer once and record."""
    key = _key(path)
    schema = _lookup(key, "schema")
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _record(key, "schema", df.schema)
    return df
