"""cdc_stream: ``StreamingCdcApply`` over a parquet file source.

Set-up seeds the state with a full ``orders`` snapshot (one availableNow
drain), so state size is level from the start. Phase 1: one generator
thread lands seeded change files in open loop at a fixed offered rate
below saturation while a continuous query folds them into state; each
file's freshness runs from the generator's stamp on it to the state commit
that contains it. The continuous query starts in the warm-up, which lands
WARMUP_FILES files first, so measured files do not pay the new query's
first micro-batches. Phase 1 lasts ``seconds``. Phase 2, DRAINS times: a
fixed backlog, landed while no query runs, is drained with an availableNow
query; the drain rate is all drained rows over all drain time. The final
``current_state()`` is hash-compared against a DuckDB reference fold of
every landed file.
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.cdc_serve import ORDER_COLS, ChangeGen, dir_bytes
from perfbench.common import Tracer, duckdb_corpus

# Traffic dimensions (the seed draws the change rows within them).
FILE_INTERVAL_S = 2.0   # offered rate: one change file per interval
FILE_ROWS = 400
BACKLOG_FILES = 3
DRAINS = 3
WARMUP_FILES = 3
SCHEMA = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
          "o_totalprice double, o_orderdate timestamp_ntz, "
          "o_orderpriority string, lsn bigint, op string")


class CommitWatcher(threading.Thread):
    """Polls the state's CURRENT pointer; records when each version first
    became visible (the state commit)."""

    def __init__(self, ptr: str, poll_s: float = 0.005) -> None:
        super().__init__(daemon=True)
        self.ptr, self.poll_s = ptr, poll_s
        self.commits: dict[str, float] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            try:
                with open(self.ptr) as f:
                    v = os.path.basename(f.read().strip())
            except OSError:
                v = None
            if v and v not in self.commits:
                self.commits[v] = time.time()
            self._halt.wait(self.poll_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def file_batches(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out = {}
    log = Path(ckpt) / "sources" / "0"
    for p in log.iterdir():
        if p.name.startswith(".") or p.name.endswith(".tmp"):
            continue
        for line in p.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


class CdcStream:
    name = "cdc_stream"

    def __init__(self, seed: int, sf_dir: str) -> None:
        self.seed = seed
        self.sf_dir = sf_dir

    def _land(self, table: pa.Table, name: str) -> tuple[str, float]:
        """Write under a hidden name, then rename into the source dir (the
        file source ignores dot-files), so a file appears whole."""
        tmp = self.src / f".{name}"
        pq.write_table(table, tmp)
        final = self.src / name
        os.replace(tmp, final)
        return name, time.time()

    def setup(self, spark, work: Path) -> None:
        from inspectadb_spark.streaming.cdc_stream import StreamingCdcApply

        self.work = work
        self.src = work / "src"
        self.src.mkdir(parents=True)
        self.ckpt = str(work / "ckpt")
        orders = pq.read_table(f"{self.sf_dir}/orders.parquet")
        snap = orders.append_column(
            "lsn", pa.array(np.zeros(len(orders), np.int64))).append_column(
            "op", pa.array(["c"] * len(orders), pa.string()))
        self.landed = [self._land(snap, "f00000.parquet")]
        self.rows = {"f00000.parquet": len(snap)}
        self.app = StreamingCdcApply(spark, str(work / "state"),
                                     ["o_orderkey"])
        q = self.app.start(self._stream(spark), self.ckpt,
                           available_now=True)
        q.awaitTermination(120)
        q.stop()

    def _land_next(self) -> None:
        name = f"f{len(self.landed):05d}.parquet"
        self.landed.append(self._land(self.gen.batch(FILE_ROWS), name))
        self.rows[name] = FILE_ROWS

    def warmup(self, spark) -> None:
        """Start the continuous query and fold WARMUP_FILES files."""
        self.gen = ChangeGen(self.seed, self.rows["f00000.parquet"])
        self.watcher = CommitWatcher(str(self.work / "state" / "CURRENT"))
        self.watcher.start()
        self.query = self.app.start(self._stream(spark), self.ckpt)
        for _ in range(WARMUP_FILES):
            self._land_next()
            time.sleep(FILE_INTERVAL_S)
        self._await_commit(self.query, self.watcher)

    def _stream(self, spark):
        return spark.readStream.schema(SCHEMA).parquet(str(self.src))

    def measure(self, spark, tracer: Tracer, seconds: float) -> dict:
        q, watcher = self.query, self.watcher
        errors: list[dict] = []
        t_start = time.time()
        first = len(self.landed)
        with tracer.span("streaming.phase1", "p1"):
            try:
                due = time.perf_counter()
                deadline = due + seconds
                while due < deadline:
                    time.sleep(max(0.0, due - time.perf_counter()))
                    self._land_next()
                    due += FILE_INTERVAL_S
                self._await_commit(q, watcher)
            finally:
                q.stop()
        progress = [json.loads(p.json) for p in q.recentProgress]
        phase1_files = len(self.landed)
        if q.exception() is not None:
            errors.append({"op": "phase1", "error": str(q.exception())[:300]})
        drain_s = []
        for d in range(DRAINS):
            for _ in range(BACKLOG_FILES):
                self._land_next()
            t0 = time.perf_counter()
            with tracer.span("streaming.drain", f"d{d}"):
                q2 = self.app.start(self._stream(spark), self.ckpt,
                                    available_now=True)
                q2.awaitTermination(120)
                q2.stop()
            drain_s.append(time.perf_counter() - t0)
            if q2.exception() is not None:
                errors.append({"op": f"drain{d}",
                               "error": str(q2.exception())[:300]})
            progress += [json.loads(p.json) for p in q2.recentProgress]
        watcher.stop()
        batches = file_batches(self.ckpt)
        fresh, spans = [], []
        for name, stamp in self.landed[first:phase1_files]:
            v = batches.get(name)
            commit = watcher.commits.get(f"v{v + 1}") if v is not None \
                else None
            if commit is None:
                errors.append({"op": name, "error": "no commit observed"})
            else:
                fresh.append(commit - stamp)
                spans.append((stamp, commit))
        # backlog at each landing: files landed by then, not yet committed
        backlog_max = max((sum(s <= t < c for s, c in spans)
                           for t, _ in spans), default=0)
        attempted = len(self.landed) - 1
        t_end = time.time()  # the untimed correctness check follows
        ok, detail = self._check(spark)
        if not ok:
            errors.append({"op": "final_state", "error": "mismatch",
                           **detail})
        return {"attempted": attempted + 1, "failed": len(errors),
                "errors": errors, "latency_s": fresh, "drain_s": drain_s,
                "throughput_per_s":
                    DRAINS * BACKLOG_FILES * FILE_ROWS / sum(drain_s),
                "progress": progress, "backlog_max": backlog_max,
                "batches": batches, "t_start": t_start, "t_end": t_end,
                "traffic": {"file_interval_s": FILE_INTERVAL_S,
                            "file_rows": FILE_ROWS,
                            "backlog_files": BACKLOG_FILES,
                            "drains": DRAINS,
                            "op_mix": "see cdc_serve.OP_MIX",
                            "warmup_files": WARMUP_FILES,
                            "phase1_files": phase1_files - first}}

    def _await_commit(self, q, watcher, timeout_s: float = 60.0) -> None:
        """Wait until the batch holding every landed file has committed."""
        end = time.perf_counter() + timeout_s
        names = [n for n, _ in self.landed]
        while time.perf_counter() < end and q.isActive:
            batches = file_batches(self.ckpt)
            if all(n in batches for n in names) and \
                    f"v{max(batches.values()) + 1}" in watcher.commits:
                return
            time.sleep(0.05)

    def _check(self, spark) -> tuple[bool, dict]:
        """Final state vs the DuckDB fold of every landed file."""
        got = self.app.current_state().toArrow()
        ts = got.schema.get_field_index("o_orderdate")
        got = got.set_column(ts, "o_orderdate", pc.cast(
            got.column(ts), pa.timestamp("us")))
        con = duckdb_corpus(self.sf_dir)
        files = "[" + ",".join(f"'{self.src / n}'" for n, _ in self.landed) \
            + "]"
        cols = ", ".join(ORDER_COLS)
        con.execute(f"""
            CREATE TABLE fold AS SELECT {cols}, lsn, op FROM (
              SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                           ORDER BY lsn DESC) rn
              FROM read_parquet({files})) WHERE rn = 1 AND op <> 'd'""")
        con.register("got", got)
        h = ("SELECT count(*), sum(hash({c})::HUGEINT) FROM {t}"
             .format(c=cols + ", lsn, op", t="{t}"))
        a = con.execute(h.format(t="got")).fetchone()
        b = con.execute(h.format(t="fold")).fetchone()
        con.close()
        return a == b, {"got": str(a), "want": str(b)}

    def layers(self, spark, tracer: Tracer, res: dict, spark_side: dict) -> dict:
        prog = [p for p in res["progress"] if p.get("numInputRows", 0) > 0]

        def med(key):
            xs = [p["durationMs"].get(key, 0) for p in prog]
            return float(np.median(xs)) if xs else 0.0

        state = self.work / "state"
        ptr = (state / "CURRENT").read_text().strip()
        state_rows = sum(pq.ParquetFile(os.path.join(ptr, f)).metadata.num_rows
                         for f in os.listdir(ptr) if f.endswith(".parquet"))
        # bytes written per change byte, per micro-batch that still has its
        # state version on disk (the two newest versions are kept)
        amp = []
        by_batch: dict[int, list[str]] = {}
        for name, b in res["batches"].items():
            by_batch.setdefault(b, []).append(name)
        for b, names in by_batch.items():
            vdir = state / f"v{b + 1}"
            if b > 0 and vdir.is_dir():
                amp.append(dir_bytes(str(vdir)) / sum(
                    os.path.getsize(self.src / n) for n in names))
        return {
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.state_rows": state_rows,
            "streaming.write_amp": float(np.median(amp)) if amp else 0.0,
            "streaming.backlog_files": res["backlog_max"],
        }
