#!/usr/bin/env python3
"""Re-time BASELINE.md's B1-B8 DuckDB SQL on the current host.

B1-B8 are the DuckDB oracle SQL of the eight spine queries bench.py maps
to them (q15->B1, q06->B2, q31->B3, q32->B4, q17->B5, q48->B6, q42->B7,
q43->B8). Protocol as BASELINE.md: one DuckDB process, ``threads=4``,
parquet views over a corpus directory. Cold = the first run on a fresh
connection; warm = best and median of WARM_RUNS further runs.
BASELINE.md itself is not changed; the result is a dated sidecar.

    python3 perfbench/retime_baseline.py CORPUS_DIR [CORPUS_DIR ...] --out FILE
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import platform
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WARM_RUNS = 5
BASELINE_IDS = {"B1": "q15_pricing_summary", "B2": "q06_star_join",
                "B3": "q31_topk_per_group", "B4": "q32_sort_limit_offset",
                "B5": "q17_multi_distinct", "B6": "q48_sessionize",
                "B7": "q42_json", "B8": "q43_cosine_topk"}
# BASELINE.md's warm / cold seconds on its 32-vCPU host, for reference
BASELINE_MD = {"B1": (0.057, 0.089), "B2": (0.064, 0.075),
               "B3": (0.023, 0.029), "B4": (0.023, 0.024),
               "B5": (0.047, 0.047), "B6": (0.012, 0.012),
               "B7": (0.015, 0.016), "B8": (0.007, 0.007)}


def host() -> dict:
    model = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cpu": model, "vcpus": len(os.sched_getaffinity(0)),
            "mem_gib": round(mem_kb / 2**20, 1),
            "kernel": platform.release()}


def retime(corpus: str) -> dict:
    import duckdb

    from inspectadb_spark.queries import REGISTRY
    from perfbench.common import duckdb_corpus

    out = {}
    for bid, q in BASELINE_IDS.items():
        sql = REGISTRY[q].oracle
        con = duckdb_corpus(corpus)  # fresh connection: cold first run
        t = time.perf_counter()
        con.execute(sql).fetchall()
        cold = time.perf_counter() - t
        warm = []
        for _ in range(WARM_RUNS):
            t = time.perf_counter()
            con.execute(sql).fetchall()
            warm.append(time.perf_counter() - t)
        con.close()
        out[bid] = {"query": q, "cold_s": cold, "warm_best_s": min(warm),
                    "warm_median_s": statistics.median(warm),
                    "baseline_md_warm_cold_s": BASELINE_MD[bid]}
    return {"duckdb": duckdb.__version__, "threads": 4, "results": out}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("corpus", nargs="+", help="directories of corpus parquet")
    ap.add_argument("--label", action="append",
                    help="name recorded for each corpus (default: dir name)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    labels = args.label or [Path(c).name for c in args.corpus]
    doc = {"date": dt.date.today().isoformat(), "host": host(),
           "protocol": "one DuckDB process, SET threads=4, parquet views; "
                       "cold = first run on a fresh connection, warm = "
                       f"best/median of {WARM_RUNS} further runs",
           "corpora": {lab: retime(c) for lab, c in zip(labels, args.corpus)}}
    Path(args.out).write_text(json.dumps(doc, indent=1) + "\n")
    for lab, r in doc["corpora"].items():
        for bid, x in r["results"].items():
            print(f"{lab} {bid} {x['query']:24s} warm {x['warm_best_s']:.4f}s"
                  f" cold {x['cold_s']:.4f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
