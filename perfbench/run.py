#!/usr/bin/env python3
"""inspark benchmark: one workload per process, seeded, time-boxed.

    python3 perfbench/run.py --workload cdc_serve --seed 1 --seconds 15 --trace 0

``--trace 0`` is the untimed-layer run: it prints the end-to-end metrics
and checks every output. ``--trace 1`` is the traced run: it records spans
around each call into a layer, writes them to ``perfbench/_out/`` and
prints the per-layer metrics. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. A detail file
(samples, probes, errors, traffic) is written next to the spans.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

T0 = time.perf_counter()

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.common import OUT, WORK, Tracer, fresh_dir, median  # noqa: E402

SETUP_REPS = 3
E2E = {"setup_s": "s", "latency_mean_s": "s", "throughput_per_s": "1/s"}
PER_LAYER = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "spark.plan_ms": "ms", "spark.jobs": "count", "spark.tasks": "count",
    "spark.floor_ms": "ms", "spark.calib_ms": "ms",
    "operators.exec_ms": "ms", "operators.shuffle_bytes": "bytes",
    "operators.scan_rows": "count",
    "udf.python_ms": "ms", "udf.bytes_to_python": "bytes",
    "udf.bytes_from_python": "bytes",
    "transfer.fetch_ms": "ms", "transfer.result_rows": "count",
    "engine.route_ms": "ms", "engine.sql_fallthrough_ratio": "ratio",
    "result_cache.fingerprint_ms": "ms", "result_cache.hit_ratio": "ratio",
    "result_cache.bytes": "bytes",
    "mv.route_ratio": "ratio", "mv.refresh_ms": "ms",
    "cdc.merge_write_ms": "ms", "cdc.write_amp": "ratio",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.write_amp": "ratio", "streaming.backlog_files": "count",
    "jvm.gc_ms": "ms", "process.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
}
# Per-operation Spark-side numbers (divided by attempted operations).
PER_OP = ("spark.jobs", "spark.tasks", "spark.plan_ms", "operators.exec_ms",
          "operators.shuffle_bytes", "operators.scan_rows", "udf.python_ms",
          "udf.bytes_to_python", "udf.bytes_from_python")


def workloads():
    from perfbench.cdc_serve import CdcServe
    from perfbench.cdc_stream import CdcStream

    return {w.name: w for w in (CdcServe, CdcStream)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    common.confine_temp_files()
    try:
        import inspectadb_spark  # noqa: F401  the system under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from perfbench.datagen import ensure_corpus

    wl_cls = workloads().get(args.workload)
    if wl_cls is None:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    sf_dir = ensure_corpus(str(WORK / "corpus"))
    wl = wl_cls(args.seed, sf_dir)
    trace = bool(args.trace)

    # set-up, repeated: table load and workload state over a fresh work
    # dir; the first repetition also starts the JVM and the session. The
    # warm-up runs once, after the last set-up.
    phases = {"start": time.perf_counter() - T0}
    setups, spark = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is None:
            spark = common.start_session()
        wl.setup(spark, fresh_dir(WORK / "run" / f"setup{rep}"))
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup(spark)
    phases["warmup"] = time.perf_counter() - t0
    try:
        return report(args, wl, spark, trace, setups, phases)
    finally:
        common.stop_session(spark)


def report(args, wl, spark, trace: bool, setups: list[float],
           phases: dict) -> int:
    tracer = Tracer(spark, trace)
    probes = [common.probe(spark)]
    gc0 = common.gc_ms(spark)
    cpu0 = common.cpu_times()
    t_start = time.time()
    t0 = time.perf_counter()
    res = wl.measure(spark, tracer, args.seconds)
    phases["measure"] = time.perf_counter() - t0
    t_end = res.get("t_end", time.time())
    gc1 = common.gc_ms(spark)
    steal = common.steal_share(cpu0, common.cpu_times())
    probes.append(common.probe(spark))
    rss = common.peak_rss_mb(spark)
    lat = res["latency_s"]
    e2e = {"setup_s": median(setups),
           "latency_mean_s": sum(lat) / len(lat) if lat else float("nan"),
           "throughput_per_s": res["throughput_per_s"]}
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace), "setup_s_reps": setups, "probes": probes,
        "latency": common.summary(lat), "latency_s": lat,
        "peak_rss_mb": rss, "gc_ms": gc1 - gc0, "steal_share": steal,
        "error_ratio": res["failed"] / max(res["attempted"], 1),
        **{k: v for k, v in res.items()
           if k not in ("latency_s", "progress", "batches", "t_end")},
    }
    OUT.mkdir(parents=True, exist_ok=True)
    stem = f"{wl.name}-seed{args.seed}"
    if trace:
        side = common.spark_layer_metrics(spark, tracer, t_start, t_end)
        ops = max(res["attempted"], 1)
        layers = {k: 0 for k in PER_LAYER}
        layers.update({k: side[k] / ops if k in PER_OP else side[k]
                       for k in side if k in PER_LAYER})
        layers.update(wl.layers(spark, tracer, res, side))
        layers["spark.floor_ms"] = median([p["floor_ms"] for p in probes])
        layers["spark.calib_ms"] = median([p["calib_ms"] for p in probes])
        layers["jvm.gc_ms"] = (gc1 - gc0) / ops
        layers["trace.overhead_ms"] = 1e3 * tracer.overhead_s / ops
        layers["process.peak_rss_mb"] = rss
        detail["layers"] = layers
        untraced = OUT / f"{stem}-trace0.json"
        if untraced.exists():  # tracing overhead against the untraced run
            base = json.loads(untraced.read_text())["e2e"]
            detail["trace_overhead_e2e"] = {
                k: e2e[k] - base[k] for k in ("latency_mean_s",)}
        tracer.dump(OUT / f"{stem}-spans.json",
                    {"jobs": side["jobs"], "workload": wl.name})
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in E2E.items()}
    detail["e2e"] = e2e
    phases["total_before_stop"] = time.perf_counter() - T0
    detail["phases_s"] = phases
    (OUT / f"{stem}-trace{int(trace)}.json").write_text(
        json.dumps(detail, indent=1, default=str))
    print(json.dumps({"detail": {k: detail[k] for k in (
        "workload", "latency", "error_ratio", "probes", "steal_share",
        "setup_s_reps")}}))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
