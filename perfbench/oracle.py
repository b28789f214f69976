#!/usr/bin/env python3
"""Expected-result hashes for the benchmark's oracled queries.

Each hash is computed from the query's registry ``oracle`` SQL, run in
DuckDB over the benchmark corpus (``datagen.py``), and canonicalized the
way the run compares Spark results (``common.result_hash``).

    python3 perfbench/oracle.py --check   # regenerate, compare, exit 1 on drift
    python3 perfbench/oracle.py --write   # regenerate expected.json
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import BENCH_DIR, WORK, duckdb_corpus, duckdb_hash  # noqa: E402

EXPECTED = BENCH_DIR / "expected.json"
# A query whose oracle does not finish in this time gets no hash (null);
# --check reports it instead of comparing.
ORACLE_TIMEOUT_S = 120


def timed_hash(con, sql: str) -> str | None:
    import threading

    import duckdb

    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return duckdb_hash(con, sql)
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def compute() -> dict:
    import duckdb

    from inspectadb_spark.queries import REGISTRY
    from perfbench.datagen import CORPUS_SEED, ensure_corpus
    from perfbench.registry_reads import LLM_TAIL, QUERY_MIX

    con = duckdb_corpus(ensure_corpus(str(WORK / "corpus")))
    hashes = {}
    for q in QUERY_MIX + LLM_TAIL:
        sql = REGISTRY[q].oracle
        if sql is None:
            raise SystemExit(f"{q} has no oracle SQL")
        hashes[q] = timed_hash(con, sql)
        print(f"{q}: {hashes[q]}", flush=True)
    return {"duckdb": duckdb.__version__, "corpus_seed": CORPUS_SEED,
            "hashes": hashes}


def main() -> int:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--check", action="store_true")
    mode.add_argument("--write", action="store_true")
    args = ap.parse_args()
    fresh = compute()
    if args.write:
        EXPECTED.write_text(json.dumps(fresh, indent=1, sort_keys=True) + "\n")
        print(f"wrote {len(fresh['hashes'])} hashes to {EXPECTED}")
        return 0
    committed = json.loads(EXPECTED.read_text())
    drift = {q: (committed["hashes"].get(q), h)
             for q, h in fresh["hashes"].items()
             if committed["hashes"].get(q) != h}
    for q, (old, new) in sorted(drift.items()):
        print(f"DRIFT {q}: committed {old} regenerated {new}")
    for q, h in sorted(fresh["hashes"].items()):
        if h is None:
            print(f"NO HASH {q}: DuckDB oracle did not finish in "
                  f"{ORACLE_TIMEOUT_S} s")
    print(f"{len(fresh['hashes']) - len(drift)}/{len(fresh['hashes'])}"
          f" hashes match (duckdb {fresh['duckdb']})")
    return 1 if drift else 0


if __name__ == "__main__":
    sys.exit(main())
