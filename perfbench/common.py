"""Shared parts of the benchmark: session, tracer, probes, result hashing.

Nothing here is imported by the engine. The tracer records spans only from
the benchmark's own calls into the engine's layers; Spark-side counts are
read after the measured phase from Spark's status store and from the
executed plans, so the traced run pays for them outside its timings where
it can.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import decimal as _decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / "_work"
OUT = BENCH_DIR / "_out"
# session.py pins spark.driver.memory=16g, which does not fit a 15 GB host;
# this is the only memory override.
DRIVER_MEMORY = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


TMP = WORK / "tmp"
SPARK_LOCAL = WORK / "spark-local"


def confine_temp_files() -> None:
    """Point every temp/scratch location of Python and Spark into WORK,
    emptied at process start. HotSpot's perf-data file always goes to
    /tmp, so the JVMs this process launches run without it."""
    fresh_dir(TMP)
    fresh_dir(SPARK_LOCAL)
    os.environ["TMPDIR"] = str(TMP)
    os.environ["SPARK_LOCAL_DIRS"] = str(SPARK_LOCAL)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def start_session():
    """``get_session`` as shipped; overrides fit the host only: cores,
    driver memory, and where the JVM writes its temp files."""
    from inspectadb_spark.session import get_session

    spark = get_session(
        "perfbench", master=f"local[{cores()}]",
        **{"spark.driver.memory": DRIVER_MEMORY,
           "spark.local.dir": str(SPARK_LOCAL),
           "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # the session is usable once a job has run
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


# -- statistics -------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def p90(xs) -> float | None:
    """p90 only where the sample supports it (>= 100 samples)."""
    if len(xs) < 100:
        return None
    return float(statistics.quantiles(xs, n=10)[-1])


def summary(xs) -> dict:
    return {"n": len(xs), "p50": median(xs), "p90": p90(xs),
            "min": min(xs) if xs else None, "max": max(xs) if xs else None}


# -- result canonicalization (Spark rows vs DuckDB rows) -------------------

def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def result_hash(columns, rows) -> str:
    """Order-insensitive hash of a result: column names sorted, cells
    canonicalized, rows sorted (the repository's oracle comparison)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\n" + line.encode())
    return f"{len(canon)}:{h.hexdigest()[:32]}"


def duckdb_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    return result_hash([d[0] for d in cur.description], cur.fetchall())


def duckdb_corpus(sf_dir: str):
    import duckdb

    from perfbench.datagen import TABLES

    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


# -- process memory ---------------------------------------------------------

def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb() + vm_hwm_mb(jvm_pid)


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: host contention, recorded next to the probe."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d), 1)


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


# -- floor / calibration probe ---------------------------------------------

CALIB_SQL = ("SELECT COUNT(*), SUM(id % 7) FROM range(0, 2000000, 1, 4) "
             "WHERE id % 3 = 0")


def probe(spark, n_floor: int = 5) -> dict:
    """range(1).collect() floor batch plus one fixed calibration query.
    Recorded only; never used to rescale an end-to-end metric."""
    floor = []
    for _ in range(n_floor):
        t = time.perf_counter()
        spark.range(1).collect()
        floor.append((time.perf_counter() - t) * 1e3)
    t = time.perf_counter()
    spark.sql(CALIB_SQL).collect()
    return {"floor_ms": median(floor),
            "calib_ms": (time.perf_counter() - t) * 1e3}


# -- tracing ------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span is (id, name, start, end, parent, rid). Spans live in memory and
    are written out by ``dump``. With tracing off every method is a no-op,
    so the untimed-layer run executes the same code path.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.frames: list[tuple[str, object]] = []  # (rid, DataFrame)
        self.overhead_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, group: bool = False):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        rec = {"id": sid, "name": name, "rid": rid, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if group:  # tag the Spark jobs this call runs
            self.spark.sparkContext.setJobGroup(f"{name}|{rid}", name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if group:
                self.spark.sparkContext.setJobGroup("untagged", "untagged")
            self.overhead_s += time.perf_counter() - t1

    def keep_frame(self, rid: str, df) -> None:
        """Keep an executed DataFrame so its plan metrics are read later."""
        if self.enabled:
            self.frames.append((rid, df))

    # -- derived numbers --------------------------------------------------
    def self_ms(self, name: str) -> float:
        """Sum of a layer's self time: span minus its children."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        return 1e3 * sum((s["end"] - s["start"]) - child.get(s["id"], 0.0)
                         for s in self.spans if s["name"] == name)

    def total_ms(self, name: str) -> float:
        return 1e3 * sum(s["end"] - s["start"]
                         for s in self.spans if s["name"] == name)

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def spark_jobs(spark) -> list[dict]:
    """Every job in Spark's status store: id, group, tasks, times (ms)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out = []
    for j in conv.asJava(store.jobsList(None)):
        grp, sub, end = j.jobGroup(), j.submissionTime(), j.completionTime()
        out.append({
            "id": j.jobId(),
            "group": grp.get() if grp.isDefined() else None,
            "tasks": j.numTasks(),
            "stages": list(conv.asJava(j.stageIds())),
            "submit": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "end": end.get().getTime() / 1e3 if end.isDefined() else None,
        })
    return out


def spark_stages(spark) -> list[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    no_q = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    out = []
    for s in conv.asJava(store.stageList(None, False, False, no_q, None)):
        out.append({
            "id": s.stageId(), "run_ms": s.executorRunTime(),
            "input_rows": s.inputRecords(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "output_bytes": s.outputBytes(), "gc_ms": s.jvmGcTime()})
    return out


def plan_metrics(df) -> dict:
    """Planning-phase times and selected SQL metrics of an executed plan
    (final AQE plan, query stages and subqueries included)."""
    qe = df._jdf.queryExecution()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = kv._2().durationMs()
    acc = {"python_ms": 0, "bytes_to_python": 0, "bytes_from_python": 0,
           "scan_rows": 0}
    seen = set()

    def walk(p):
        if p.id() in seen:
            return
        seen.add(p.id())
        name = p.getClass().getSimpleName()
        ms = p.metrics()
        if ms.contains("pythonDataSent"):
            acc["bytes_to_python"] += ms.apply("pythonDataSent").value()
            acc["bytes_from_python"] += ms.apply("pythonDataReceived").value()
            if ms.contains("pythonTotalTime"):
                acc["python_ms"] += ms.apply("pythonTotalTime").value()
        if name in ("FileSourceScanExec", "BatchScanExec") and \
                ms.contains("numOutputRows"):
            acc["scan_rows"] += ms.apply("numOutputRows").value()
        if name == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
        elif name.endswith("QueryStageExec"):
            walk(p.plan())
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        subs = p.subqueries()
        for i in range(subs.size()):
            walk(subs.apply(i))

    walk(qe.executedPlan())
    return {"plan_ms": float(sum(phases.values())), **acc}


def spark_layer_metrics(spark, tracer: Tracer, t_start: float,
                        t_end: float) -> dict:
    """Spark-side per-layer numbers for jobs submitted in [t_start, t_end]
    plus plan metrics of every kept DataFrame."""
    jobs = [j for j in spark_jobs(spark)
            if j["submit"] is not None and t_start <= j["submit"] <= t_end]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in spark_stages(spark) if s["id"] in stage_ids]
    plans = [plan_metrics(df) for _, df in tracer.frames]
    return {
        "jobs": jobs,
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.plan_ms": sum(p["plan_ms"] for p in plans),
        "operators.exec_ms": float(sum(s["run_ms"] for s in stages)),
        "operators.shuffle_bytes": sum(s["shuffle_write_bytes"]
                                       for s in stages),
        "operators.scan_rows": sum(p["scan_rows"] for p in plans),
        "udf.python_ms": float(sum(p["python_ms"] for p in plans)),
        "udf.bytes_to_python": sum(p["bytes_to_python"] for p in plans),
        "udf.bytes_from_python": sum(p["bytes_from_python"] for p in plans),
    }
