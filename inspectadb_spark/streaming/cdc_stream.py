"""Streaming CDC apply: fold a change-log *stream* into a current-state table.

``foreachBatch`` + the batch ``apply_changelog`` builder: each micro-batch
merges the new changes into the persisted state (latest-wins by lsn,
deletes dropped). State versions are written to alternating directories and
atomically re-pointed, so a crash mid-batch leaves the previous consistent
version readable — the same pattern a MERGE INTO against a transactional
table format (Delta/Iceberg) gives for free; with such a sink the body of
``_merge_batch`` becomes a single ``mergeInto`` (whenMatched update/delete,
whenNotMatched insert).

Idempotent under micro-batch re-delivery: re-applying any prefix of changes
cannot change the latest-wins outcome (max-lsn row per key is stable).

State versions go through ``operators/parquet_store.py``: each micro-batch
reads the previous version with the schema recorded when it was written,
not through a schema-inference job.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from inspectadb_spark.operators.cdc import latest_per_key
from inspectadb_spark.operators.parquet_store import read_parquet
from inspectadb_spark.operators.parquet_store import write_parquet


class StreamingCdcApply:
    """Maintains current state for a keyed change stream via foreachBatch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        order_col: str = "lsn",
        op_col: str = "op",
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.op_col = op_col
        os.makedirs(state_dir, exist_ok=True)
        # Resume version numbering from the committed pointer (same fix as
        # IncrementalAggregate): a fresh process restarting at 0 would
        # overwrite the very version CURRENT points at — Spark refuses to
        # overwrite a path it is lazily reading — and orphan prior versions.
        # No batch-id guard is needed here: latest-wins by lsn IS idempotent
        # under re-delivery.
        self._version = 0
        if os.path.exists(self._ptr()):
            with open(self._ptr()) as f:
                committed = os.path.basename(f.read().strip())
            if committed.startswith("v"):
                self._version = int(committed[1:])

    # -- state bookkeeping ---------------------------------------------------
    def _ptr(self) -> str:
        return os.path.join(self.state_dir, "CURRENT")

    def _state_raw(self) -> DataFrame | None:
        """Internal state: latest row per key INCLUDING delete tombstones."""
        ptr = self._ptr()
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            path = f.read().strip()
        return read_parquet(self.spark, path)

    def current_state(self) -> DataFrame | None:
        """User-facing view: tombstones filtered out."""
        raw = self._state_raw()
        if raw is None:
            return None
        from pyspark.sql import functions as F

        return raw.filter(F.col(self.op_col) != "d")

    def _merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        # keep only the latest change per key within the batch, then union
        # with prior state and re-apply latest-wins. The per-key max-lsn rows
        # in state carry their lsn, so cross-batch ordering stays correct.
        if batch.isEmpty():
            return  # idle trigger: don't rewrite the whole state for a no-op
        state = self._state_raw()
        merged_input = batch if state is None else state.unionByName(batch)
        new_state = latest_per_key(merged_input, self.key_cols, self.order_col)
        self._version += 1
        out = os.path.join(self.state_dir, f"v{self._version}")
        write_parquet(new_state, out)
        tmp = self._ptr() + ".tmp"
        with open(tmp, "w") as f:
            f.write(out)
        os.replace(tmp, self._ptr())
        # GC the version before last (last is still referenced until replace)
        old = os.path.join(self.state_dir, f"v{self._version - 2}")
        if os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)

    # -- entry point ---------------------------------------------------------
    def start(self, change_stream: DataFrame, checkpoint_dir: str,
              available_now: bool = False, **options):
        """Attach to a streaming change-log DataFrame; returns the query.

        State rows must retain op/order columns for cross-batch merging —
        ``apply_changelog`` keeps all input columns, so they do.
        ``available_now=True`` drains the current input and terminates (the
        backfill/replay mode); default is a continuous query.
        """
        w = (
            change_stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start(**options)
