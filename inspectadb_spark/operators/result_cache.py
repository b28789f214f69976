"""Query result cache keyed by (canonicalized plan, input-file versions).

The warehouse result-cache contract: serving an identical query over
unchanged inputs must cost a metadata check plus a summary-sized read, and
ANY change to the inputs must invalidate silently — correctness can never
depend on an explicit flush.

Fingerprint = md5 over
- the CANONICALIZED optimized logical plan text (Spark's own
  semantic-equality form: expression ids normalized positionally, so the
  same query re-built in a different session still hits, while literals,
  self-join attribute identity, and structure are preserved exactly —
  a homegrown regex strip over the raw plan text collided on all three,
  e.g. the literals 'issue#123' vs 'issue#999'), rendered with
  ``maxToStringFields`` raised so wide projections don't truncate into
  one another, and
- the version vector of every input file the plan reads
  (path, size, mtime-ns from ``df.inputFiles()``) — an overwritten /
  appended / compacted input changes the vector, so stale entries are
  simply never addressed again (old fingerprints age out; ``vacuum``
  removes them).

This composes with the CDC surface: applying a change-batch to a table
rewrites its files, which rotates the version vector, which invalidates
every cached result over that table — no bookkeeping links caches to
tables. The same mechanism is why a cache HIT is safe: an address match
proves byte-identical inputs and a semantically identical plan.

100 TB design: the fingerprint never touches data (plan text + file-status
listing, both driver-side metadata); results worth caching are
aggregate-sized, so the cache store is summary tables. Result reuse under
SUBSUMPTION (answering a coarser query from a finer cached result) is the
materialized-view routing algebra — operators/mv.py — not this module;
this cache is exact-match only, by design, because plan equality is
decidable where query containment is not.

Entries are written and read through ``operators/parquet_store.py``: a hit
reads the entry with the schema recorded when it was written, so it runs no
schema-inference job. That is exact — the footer carries the Catalyst
schema that was written and a file source forces every field nullable
either way — so the served plan, and any fingerprint taken over it, is the
one inference would give. A hit's cost is then the fingerprint (driver-side
metadata) plus the one job that reads the entry.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from inspectadb_spark.operators.parquet_store import read_parquet
from inspectadb_spark.operators.parquet_store import write_parquet

# On-disk cache layout version. Entries live under cache_dir/v{N}/<fp>;
# bumped whenever the fingerprint recipe changes meaning (v2 = output
# schema mixed into the fingerprint, r12 ADVICE fix), so entries written
# under an older recipe are RECLAIMED on the next ResultCache construction
# instead of lingering unaddressable until a manual vacuum (r12 ADVICE:
# the schema fix orphaned every pre-fix key silently).
FORMAT_VERSION = 2


def plan_key(df: DataFrame) -> str:
    """Spark's CANONICALIZED optimized-plan text: expression ids are
    normalized positionally (session-independent) while literals and
    attribute identity are preserved — the property a regex strip over
    the raw plan text cannot give (it conflated `lit('issue#123')` with
    `lit('issue#999')`, and self-join sorts on same-named columns).
    ``maxToStringFields`` is raised for the rendering so plans differing
    only past Spark's 25-field print cutoff don't collide."""
    spark = df.sparkSession
    conf = spark.conf
    key = "spark.sql.debug.maxToStringFields"
    old = conf.get(key, None)
    conf.set(key, "100000")
    try:
        return (df._jdf.queryExecution().optimizedPlan()
                .canonicalized().toString())
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)


def input_versions(df: DataFrame) -> list[tuple[str, int, int]]:
    """(path, size, mtime_ns) for every input file the plan reads.
    ``inputFiles()`` returns percent-encoded URIs — unquote before
    stat'ing, or any path with a space would permanently read as the
    (-1, -1) sentinel and silently disable version invalidation."""
    out = []
    for uri in sorted(df.inputFiles()):
        p = unquote(urlparse(uri).path) if uri.startswith("file:") \
            else unquote(uri)
        try:
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((p, -1, -1))
    return out


def fingerprint(df: DataFrame) -> str:
    # Canonicalization normalizes Alias names to "" — two plans differing
    # ONLY in output column names canonicalize identically, so a hit would
    # silently serve the other query's column names. Mixing the output
    # schema (names + types, nested) back in keeps the key exact-match.
    h = hashlib.md5(plan_key(df).encode())
    h.update(("|schema:" + df.schema.simpleString()).encode())
    for p, size, mt in input_versions(df):
        h.update(f"|{p}:{size}:{mt}".encode())
    return h.hexdigest()


class ResultCache:
    """Parquet-backed exact-match result cache.

    ``get_or_compute(df)`` returns ``(result_df, hit)`` — on a hit the
    result is read from the cache parquet (the returned plan scans ONLY
    the cache path; plan-pinned in tests), on a miss ``df`` is executed
    once, stored, and served from the store so hit and miss return the
    same physical shape.
    """

    def __init__(self, spark: SparkSession, cache_dir: str) -> None:
        self.spark = spark
        self.cache_dir = cache_dir
        self.store_dir = os.path.join(cache_dir, f"v{FORMAT_VERSION}")
        os.makedirs(self.store_dir, exist_ok=True)
        # Reclaim entries from any OTHER layout version: their keys were
        # minted under a different fingerprint recipe, so they can never
        # hit again — deliberate reclamation beats silent lingering.
        # (v1 stored entries directly under cache_dir; other v* dirs are
        # future/past versions.) Removal can only cause misses.
        self.reclaimed = 0
        for name in os.listdir(cache_dir):
            full = os.path.join(cache_dir, name)
            if full == self.store_dir or not os.path.isdir(full):
                continue
            shutil.rmtree(full, ignore_errors=True)
            self.reclaimed += 1

    def _path(self, fp: str) -> str:
        return os.path.join(self.store_dir, fp)

    def get_or_compute(self, df: DataFrame) -> tuple[DataFrame, bool]:
        fp = fingerprint(df)
        p = self._path(fp)
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            return read_parquet(self.spark, p), True
        write_parquet(df, p)
        return read_parquet(self.spark, p), False

    def vacuum(self, keep_fingerprints: set[str] | None = None) -> int:
        """Drop cached entries (all, or all but ``keep_fingerprints``);
        returns the number removed. Safe at any time: removal can only
        cause misses, never wrong answers."""
        removed = 0
        for name in os.listdir(self.store_dir):
            if keep_fingerprints and name in keep_fingerprints:
                continue
            shutil.rmtree(os.path.join(self.store_dir, name),
                          ignore_errors=True)
            removed += 1
        return removed
