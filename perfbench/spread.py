#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs ``run.py`` untraced once per seed for every workload in
BENCHMARK.json (one process at a time), prints each run's metrics with
their units, correctness and counts, then per metric the median and the
interquartile range as a share of the median, next to the metric's bound.
``--out`` also writes every run (with its probe and host-contention
readings) and the summary to a JSON file.

    python3 perfbench/spread.py --seeds 1-10 [--out perfbench/results/F.json]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def host() -> str:
    with open("/proc/cpuinfo") as f:
        model = next((ln.split(":", 1)[1].strip() for ln in f
                      if ln.startswith("model name")), "cpu")
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) / 2**20
    return f"{len(os.sched_getaffinity(0))} vCPU {model}, {mem_gib:.0f} GiB"


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report, runs = {}, []
    for wl in (w["name"] for w in spec["workloads"]):
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            t0 = time.perf_counter()
            out = subprocess.run(
                [*spec["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                return 1
            lines = out.stdout.strip().splitlines()
            res, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            print(f"{wl} seed={seed} wall={wall:.1f}s correct={res['correct']}"
                  f" attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}[{v['unit']}]"
                             for k, v in res["metrics"].items())
                  + f" calib_ms={detail['probes'][-1]['calib_ms']:.0f}"
                  f" steal={detail['steal_share']:.3f}", flush=True)
            runs.append({"workload": wl, "seed": seed, "wall_s": wall,
                         **{k: res[k] for k in ("correct", "attempted",
                                                "failed")},
                         "metrics": {k: v["value"]
                                     for k, v in res["metrics"].items()},
                         "probes": detail["probes"],
                         "steal_share": detail["steal_share"]})
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else float("nan")
            report[f"{wl}/{k}"] = {"median": med, "spread": spread,
                                   "bound": bounds[k]}
            print(f"  {wl:10s} {k:18s} median={med:.4g} spread={spread:.3f}"
                  f" bound={bounds[k]}", flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps({
            "date": datetime.date.today().isoformat(), "host": host(),
            "command": "python3 perfbench/spread.py --seeds " + args.seeds,
            "run_seconds": spec["run_seconds"],
            "spread": "IQR / median over the seeds (statistics.quantiles"
                      " n=4)",
            "summary": report, "runs": runs}, indent=1))
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
