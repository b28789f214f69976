"""cdc_serve: one ``Engine`` over the corpus with MVs over ``orders`` and
``lineitem``. Each round applies one seeded change batch to ``orders``
through ``Engine.apply_changes`` and then serves reads through
``Engine.sql_routed`` from a pool of flat MV-routable aggregates,
star-routed aggregates and fall-through SQL over the written table and an
unwritten one, plus registry analytics queries (``SERVE_READS``: builder
+ plan + execute + fetch). The reads of a round are a fixed multiset in
seeded order (ROUND_READS plus SERVE_READS): every entry at least once,
the hot aggregates repeated, so every round has the same cost profile and
repeat share. A run measures whole rounds, started until ``seconds`` are
up. The warm-up runs WARMUP_ROUNDS whole rounds, their batches kept in the
reference fold: the first round after one warm-up round still read ~25%
slower than the later ones, which made the mean depend on how many rounds
a host's speed let into the run. After every write, each served result is
hash-compared (untimed) against a DuckDB reference fold of the same change
batches.
"""

from __future__ import annotations

import os
import random
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import Tracer, duckdb_corpus, result_hash
from perfbench.registry_reads import SERVE_READS, expected_hashes

ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority")


def _dsum(x: str) -> str:
    return f"CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE)"


# (id, SQL sent to sql_routed, DuckDB SQL over the folded tables). Routed
# SUMs are DECIMAL-exact in the engine; the DuckDB side spells that out.
POOL = [
    ("flat_status",
     "SELECT o_orderstatus, SUM(o_totalprice) AS total, COUNT(*) AS n "
     "FROM orders GROUP BY o_orderstatus",
     f"SELECT o_orderstatus, {_dsum('o_totalprice')} AS total, "
     "COUNT(*) AS n FROM orders GROUP BY o_orderstatus"),
    ("flat_lineitem",
     "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS qty, "
     "SUM(l_extendedprice) AS price, COUNT(*) AS n FROM lineitem "
     "GROUP BY l_returnflag, l_linestatus",
     f"SELECT l_returnflag, l_linestatus, {_dsum('l_quantity')} AS qty, "
     f"{_dsum('l_extendedprice')} AS price, COUNT(*) AS n FROM lineitem "
     "GROUP BY l_returnflag, l_linestatus"),
    ("base_lineitem",
     "SELECT l_linenumber, COUNT(*) AS n, MAX(l_discount) AS max_disc "
     "FROM lineitem GROUP BY l_linenumber",
     "SELECT l_linenumber, COUNT(*) AS n, MAX(l_discount) AS max_disc "
     "FROM lineitem GROUP BY l_linenumber"),
    ("star_segment",
     "SELECT c.c_mktsegment, SUM(o.o_totalprice) AS total, COUNT(*) AS n "
     "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
     "GROUP BY c.c_mktsegment",
     f"SELECT c.c_mktsegment, {_dsum('o.o_totalprice')} AS total, "
     "COUNT(*) AS n FROM orders o JOIN customer c "
     "ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment"),
    ("sql_lineitem_join",
     f"SELECT o.o_orderpriority, {_dsum('l.l_quantity')} AS qty FROM "
     "lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "GROUP BY o.o_orderpriority",
     f"SELECT o.o_orderpriority, {_dsum('l.l_quantity')} AS qty FROM "
     "lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
     "GROUP BY o.o_orderpriority"),
]

# Traffic dimensions; the seed draws within these and the run records them.
OP_MIX = {"c": 0.2, "u": 0.65, "d": 0.15}
ZIPF_S = 1.1          # key skew of updates/deletes over order keys
# Fixed: an apply's cost is mostly the table and MV rewrite, not the batch
# size, so a seeded size would turn into seed noise in rows applied per s.
BATCH_ROWS = 2000
# reads per round: POOL id -> count (Zipf s~1 over the pool order: hot
# aggregates repeat)
ROUND_READS = {qid: 1 for qid, _, _ in POOL}
ROUND_READS.update(flat_status=4, flat_lineitem=2)
WARMUP_ROUNDS = 2


def mv_defs():
    from inspectadb_spark.operators.mv import MVDef

    return [
        (MVDef(name="mv_orders_status_prio",
               keys=("o_orderstatus", "o_orderpriority"),
               measures={"sum_tp": ("sum", "o_totalprice"),
                         "cnt": ("count", "*"),
                         "cnt_tp": ("count", "o_totalprice")}), "orders"),
        (MVDef(name="mv_orders_by_cust", keys=("o_custkey",),
               measures={"sum_tp": ("sum", "o_totalprice"),
                         "cnt": ("count", "*"),
                         "cnt_tp": ("count", "o_totalprice")}), "orders"),
        (MVDef(name="mv_lineitem_flags",
               keys=("l_returnflag", "l_linestatus"),
               measures={"sum_qty": ("sum", "l_quantity"),
                         "sum_price": ("sum", "l_extendedprice"),
                         "cnt": ("count", "*"),
                         "cnt_qty": ("count", "l_quantity")}), "lineitem"),
    ]


POOL_SQL = {qid: (sql, duck) for qid, sql, duck in POOL}


def repeat_share(reads: list[tuple[int, str]]) -> float:
    """Share of reads that repeat an earlier read of the same round."""
    seen = set()
    rep = 0
    for r in reads:
        rep += r in seen
        seen.add(r)
    return rep / max(len(reads), 1)


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class ChangeGen:
    """Seeded CDC batches over ``orders``: c/u/d mix, Zipf key skew."""

    def __init__(self, seed: int, n_orders: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.n_orders = n_orders
        # Zipf over a seeded permutation of existing keys: hot keys recur
        self.hot = self.rng.permutation(n_orders)
        self.key_w = zipf_weights(n_orders, ZIPF_S)
        self.next_key = n_orders
        self.lsn = 0

    def batch(self, n: int) -> pa.Table:
        rng = self.rng
        ops = rng.choice(list(OP_MIX), n, p=list(OP_MIX.values()))
        keys = self.hot[rng.choice(self.n_orders, n, p=self.key_w)]
        n_new = int((ops == "c").sum())
        keys[ops == "c"] = np.arange(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        lsn = np.arange(self.lsn + 1, self.lsn + n + 1)
        self.lsn += n
        days = rng.integers(0, 2404, n).astype("timedelta64[D]")
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15000, n), pa.int64()),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n)]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": (np.datetime64("1995-01-01", "D") + days
                            ).astype("datetime64[us]"),
            "o_orderpriority": pa.array(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                dtype=object)[rng.integers(0, 5, n)]),
            "lsn": pa.array(lsn, pa.int64()),
            "op": pa.array(ops.astype(object), pa.string()),
        })


FOLD_SQL = """
CREATE OR REPLACE TABLE orders AS
SELECT {cols} FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY lsn DESC) rn
  FROM (SELECT {cols}, 0::BIGINT AS lsn, 'c' AS op FROM orders_base
        UNION ALL SELECT {cols}, lsn, op FROM read_parquet({files})))
WHERE rn = 1 AND op <> 'd'
"""


def fold_orders(con, change_files: list[str]) -> None:
    """DuckDB reference fold: latest change per key by lsn over the base
    snapshot, tombstones kept through the fold and deletes dropped."""
    files = "[" + ",".join(f"'{f}'" for f in change_files) + "]"
    con.execute(FOLD_SQL.format(cols=", ".join(ORDER_COLS), files=files))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class CdcServe:
    name = "cdc_serve"

    def __init__(self, seed: int, sf_dir: str) -> None:
        self.seed = seed
        self.sf_dir = sf_dir
        self.expected = expected_hashes()

    def setup(self, spark, work: Path) -> None:
        from inspectadb_spark.engine import Engine

        self.work = work
        self.eng = Engine(spark, self.sf_dir, str(work / "engine"))
        for mv, table in mv_defs():
            self.eng.register_mv(mv, table)

    def warmup(self, spark) -> None:
        self.gen = ChangeGen(self.seed, self.eng.table("orders").count())
        self.files = []
        for k in range(WARMUP_ROUNDS):
            self.files.append(self._land_batch(k))
            self.eng.apply_changes(
                "orders", spark.read.parquet(self.files[-1]), ["o_orderkey"])
            for kind, qid in self.round_reads(random.Random(k)):
                if kind == "routed":
                    self.eng.sql_routed(POOL_SQL[qid][0])[0].collect()
                else:
                    self._registry(spark, qid).collect()

    def _registry(self, spark, q: str):
        from inspectadb_spark.queries import REGISTRY

        return REGISTRY[q].builder(spark, self.sf_dir)

    def _land_batch(self, k: int) -> str:
        """Write the next seeded change batch as a parquet file."""
        d = self.work / "changes"
        d.mkdir(parents=True, exist_ok=True)
        path = str(d / f"b{k:04d}.parquet")
        pq.write_table(self.gen.batch(BATCH_ROWS), path)
        return path

    @staticmethod
    def round_reads(rng: random.Random) -> list[tuple[str, str]]:
        reads = [("routed", q) for q, c in ROUND_READS.items()
                 for _ in range(c)] + [("registry", q) for q in SERVE_READS]
        rng.shuffle(reads)
        return reads

    def _instrument(self, tracer: Tracer) -> dict:
        """Traced run only: wrap the layer entry points so their calls
        become spans and counts."""
        from inspectadb_spark import engine as eng_mod
        from inspectadb_spark.operators import result_cache as rc

        counts = {"mv_route": 0, "mv_hit": 0}
        fp, gor, route = rc.fingerprint, rc.ResultCache.get_or_compute, \
            eng_mod._mv_route

        def fingerprint(df):
            with tracer.span("result_cache.fingerprint"):
                return fp(df)

        def get_or_compute(self_, df):
            with tracer.span("result_cache.get_or_compute", group=True):
                return gor(self_, df)

        def mv_route(*a, **k):
            with tracer.span("mv.route"):
                out = route(*a, **k)
            counts["mv_route"] += 1
            counts["mv_hit"] += out[1] is not None
            return out

        rc.fingerprint = fingerprint
        rc.ResultCache.get_or_compute = get_or_compute
        eng_mod._mv_route = mv_route
        return counts

    def measure(self, spark, tracer: Tracer, seconds: float) -> dict:
        rng = random.Random(self.seed)
        counts = self._instrument(tracer) if tracer.enabled else None
        con = duckdb_corpus(self.sf_dir)
        con.execute("CREATE VIEW orders_base AS SELECT * FROM read_parquet("
                    f"'{self.sf_dir}/orders.parquet')")
        con.execute("DROP VIEW orders")
        files = self.files
        serve, apply_s, provs, errors, provs_ids = [], [], [], [], []
        result_rows: list[int] = []
        rows_applied, attempted, write_amp = 0, 0, []
        # whole rounds, started while time is left: every round has the
        # same reads, so the round count sets the sample size, not the mix
        deadline = time.perf_counter() + seconds
        rnd = 0
        while time.perf_counter() < deadline:
            path = self._land_batch(len(files))
            n = pq.ParquetFile(path).metadata.num_rows
            files.append(path)
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("engine.apply", f"w{rnd}"):
                    changes = spark.read.parquet(path)
                    if tracer.enabled:  # time refreshes on their own
                        with tracer.span("cdc.merge_write", group=True):
                            self.eng.apply_changes(
                                "orders", changes, ["o_orderkey"],
                                refresh_dependents=False)
                        for name, (_, _, bt, _) in self.eng._mvs.items():
                            if bt == "orders":
                                with tracer.span("mv.refresh", group=True):
                                    self.eng.refresh_mv(name)
                    else:
                        self.eng.apply_changes("orders", changes,
                                               ["o_orderkey"])
            except Exception as e:
                errors.append({"op": f"apply{rnd}", "error": repr(e)[:300]})
                break  # later reads would be checked against a wrong fold
            apply_s.append(time.perf_counter() - t0)
            rows_applied += n
            ver = self.eng._table_version["orders"]
            write_amp.append(dir_bytes(str(
                self.work / "engine" / "tables" / "orders" / f"v{ver}"))
                / os.path.getsize(path))
            fold_orders(con, files)
            for k, (kind, qid) in enumerate(self.round_reads(rng)):
                rid = f"w{rnd}r{k}"
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span("request", rid):
                        if kind == "routed":
                            with tracer.span("engine.sql_routed", group=True):
                                df, prov = self.eng.sql_routed(POOL_SQL[qid][0])
                        else:
                            with tracer.span("queries.build", group=True):
                                df, prov = self._registry(spark, qid), kind
                        with tracer.span("spark.execute", group=True):
                            rows = df.collect()
                except Exception as e:
                    errors.append({"op": rid, "query": qid,
                                   "error": repr(e)[:300]})
                    continue
                serve.append(time.perf_counter() - t0)
                provs.append(prov)
                provs_ids.append((rnd, qid))
                result_rows.append(len(rows))
                tracer.keep_frame(rid, df)
                got = result_hash(df.columns, rows)
                want = (result_hash(*self._duck(con, POOL_SQL[qid][1]))
                        if kind == "routed" else self.expected[qid])
                if got != want:
                    errors.append({"op": rid, "query": qid,
                                   "error": "mismatch", "got": got,
                                   "want": want})
            rnd += 1
        con.close()
        return {"attempted": attempted, "failed": len(errors),
                "errors": errors, "latency_s": serve, "apply_s": apply_s,
                "provenance": provs, "rows_applied": rows_applied,
                "throughput_per_s": rows_applied / max(sum(apply_s), 1e-9),
                "write_amp": write_amp, "counts": counts,
                "result_rows": result_rows,
                "traffic": {"op_mix": OP_MIX, "zipf_s": ZIPF_S,
                            "batch_rows": BATCH_ROWS,
                            "round_reads": ROUND_READS,
                            "repeat_share": repeat_share(provs_ids),
                            "rounds": rnd}}

    @staticmethod
    def _duck(con, sql):
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()

    def layers(self, spark, tracer: Tracer, res: dict, spark_side: dict) -> dict:
        provs = res["provenance"]
        routed = [p for p in provs if p != "registry"]
        n_r = max(len(routed), 1)
        n_q = max(len(provs) - len(routed), 1)
        w = max(len(res["apply_s"]), 1)
        counts = res["counts"] or {"mv_route": 0, "mv_hit": 0}
        jobs = spark_side["jobs"]
        build_jobs = [j for j in jobs
                      if (j["group"] or "").startswith("queries.build|")]
        # fetch: from the last job of a read's execute call to the rows
        # being in Python
        last_end: dict[str, float] = {}
        for j in jobs:
            g = j["group"] or ""
            if g.startswith("spark.execute|") and j["end"] is not None:
                rid = g.split("|", 1)[1]
                last_end[rid] = max(last_end.get(rid, 0.0), j["end"])
        fetch = [max(0.0, s["end"] - last_end[s["rid"]])
                 for s in tracer.spans
                 if s["name"] == "spark.execute" and s["rid"] in last_end]
        cache_dir = self.work / "engine" / "result_cache"
        return {
            "queries.build_ms": tracer.self_ms("queries.build") / n_q,
            "queries.build_jobs": len(build_jobs) / n_q,
            "transfer.fetch_ms": 1e3 * sum(fetch) / max(len(provs), 1),
            "transfer.result_rows":
                sum(res["result_rows"]) / max(len(provs), 1),
            "engine.route_ms": tracer.self_ms("engine.sql_routed") / n_r,
            "engine.sql_fallthrough_ratio":
                sum(p == "sql" for p in routed) / n_r,
            "result_cache.fingerprint_ms":
                tracer.total_ms("result_cache.fingerprint") / n_r,
            "result_cache.hit_ratio":
                sum(p.endswith("cache") for p in routed) / n_r,
            "result_cache.bytes": dir_bytes(str(cache_dir)),
            "mv.route_ratio": counts["mv_hit"] / max(counts["mv_route"], 1),
            "mv.refresh_ms": tracer.total_ms("mv.refresh") / w,
            "cdc.merge_write_ms": tracer.total_ms("cdc.merge_write") / w,
            "cdc.write_amp": float(np.median(res["write_amp"]))
            if res["write_amp"] else 0.0,
        }
