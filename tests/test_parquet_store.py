"""Schema memo for engine-written parquet (operators/parquet_store.py).

Per versioned store, a memo read returns exactly the schema Spark infers
for the directory (so plans and cache fingerprints cannot move), a hit
launches no Spark job, a rewrite at the same path is read from the new
files, and the memo stays within its cap.
"""

from __future__ import annotations

import os
from decimal import Decimal as D

from pyspark.sql import Row
from pyspark.sql import functions as F

from inspectadb_spark.engine import Engine
from inspectadb_spark.operators import parquet_store
from inspectadb_spark.operators.mv import AggRequest, MVDef, resolve_mv_path
from inspectadb_spark.operators.parquet_store import read_parquet
from inspectadb_spark.operators.parquet_store import write_parquet
from inspectadb_spark.operators.result_cache import ResultCache
from inspectadb_spark.operators.result_cache import input_versions
from inspectadb_spark.streaming.cdc_stream import StreamingCdcApply
from inspectadb_spark.streaming.incremental import IncrementalAggregate
from tests.conftest import SF_DIR


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched outside any job group)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = fn()
    bus.waitUntilEmpty()
    after = set(sc.statusTracker().getJobIdsForGroup(None))
    return out, len(after - before)


def _assert_memo_read_exact(spark, path):
    """The memo holds ``path``'s schema, reading it launches no job, and
    it equals what Spark infers from the files."""
    df, jobs = spark_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    return df


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_mv_cache_and_table_versions_read_with_inferred_schema(
        spark, tmp_path):
    eng = Engine(spark, SF_DIR, str(tmp_path / "eng"))
    # decimal sums, bigint counts, min/max of a date and a double
    eng.register_mv(
        MVDef(name="mv_status_day", keys=("o_orderstatus", "o_orderdate"),
              measures={"sum_tp": ("sum", "o_totalprice"),
                        "cnt": ("count", "*"),
                        "cnt_tp": ("count", "o_totalprice"),
                        "max_tp": ("max", "o_totalprice"),
                        "min_day": ("min", "o_orderdate")}),
        "orders")
    orders = eng.table("orders")
    victim, donor = orders.limit(2).collect()
    new_key = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    eng.apply_changes("orders", spark.createDataFrame([
        Row(lsn=1, op="d", **victim.asDict()),
        Row(lsn=2, op="c", **{**donor.asDict(), "o_orderkey": new_key})]),
        ["o_orderkey"])

    table_dir = os.path.join(eng.work_dir, "tables", "orders", "v1")
    _assert_memo_read_exact(spark, table_dir)
    mv_dir = resolve_mv_path(os.path.join(eng.work_dir, "mv",
                                          "mv_status_day"))
    assert mv_dir.endswith("v2")  # refreshed by apply_changes
    mv_df = _assert_memo_read_exact(spark, mv_dir)
    assert dict(mv_df.dtypes)["sum_tp"] == "decimal(28,6)"
    assert dict(mv_df.dtypes)["cnt"] == "bigint"

    req = AggRequest(keys={"o_orderstatus": None},
                     measures={"total": ("sum", "o_totalprice"),
                               "n": ("count", "*")})
    miss, prov = eng.aggregate("orders", req)
    assert prov == "mv:mv_status_day"
    # the route's cost probe and schema share one memo entry
    entry = parquet_store._MEMO[parquet_store._key(mv_dir)]
    assert {"rows", "schema"} <= set(entry)
    (entry_dir,) = {os.path.dirname(f) for f, _, _ in input_versions(miss)}
    _assert_memo_read_exact(spark, entry_dir)
    hit, prov = eng.aggregate("orders", req)
    assert prov == "cache"
    assert _rows(hit) == _rows(miss)


def test_streaming_state_versions_read_with_inferred_schema(spark, tmp_path):
    cdc = StreamingCdcApply(spark, str(tmp_path / "cdc"), ["o_orderkey"])
    schema = ("o_orderkey bigint, lsn bigint, op string, "
              "o_totalprice decimal(12,2), o_orderdate date")
    cdc._merge_batch(spark.createDataFrame(
        [(1, 1, "c", D(10), None), (2, 2, "c", D(20), None)], schema), 0)
    cdc._merge_batch(spark.createDataFrame(
        [(1, 3, "u", D(11), None), (2, 4, "d", D(20), None)], schema), 1)
    state = _assert_memo_read_exact(
        spark, os.path.join(str(tmp_path / "cdc"), "v2"))
    assert _rows(state) == [("1", "3", "u", "11.00", "None"),
                            ("2", "4", "d", "20.00", "None")]

    # array-valued state: a non-null element type is forced nullable on
    # read either way
    inc = IncrementalAggregate(
        spark, str(tmp_path / "inc"), {"k": "k"},
        [("n", "count", "*"), ("s", "sum", "v"), ("vs", "set", "v")])
    batch = spark.createDataFrame([("x", 1.0), ("x", 2.0), ("y", 3.0)],
                                  "k string, v double")
    inc._merge_batch(batch, 0)
    inc._merge_batch(batch, 1)
    got = _assert_memo_read_exact(spark,
                                  os.path.join(str(tmp_path / "inc"), "v2"))
    assert _rows(got) == [("x", "4", "6.000000", "[1.0, 2.0]"),
                          ("y", "2", "6.000000", "[3.0]")]


def test_miss_infers_once_then_hits(spark, tmp_path):
    p = str(tmp_path / "t")
    write_parquet(spark.range(5).withColumn("s", F.col("id").cast("string")),
                  p)
    _, jobs = spark_jobs(spark, lambda: read_parquet(spark, p))
    assert jobs == 0
    parquet_store._MEMO.clear()  # as in a restarted process
    _, jobs = spark_jobs(spark, lambda: read_parquet(spark, p))
    assert jobs == 1  # the schema-inference job, once
    df, jobs = spark_jobs(spark, lambda: read_parquet(spark, p))
    assert jobs == 0
    assert df.schema == spark.read.parquet(p).schema


def test_rewrite_at_same_path_reads_new_files(spark, tmp_path):
    p = str(tmp_path / "t")
    write_parquet(spark.range(3), p)
    assert read_parquet(spark, p).columns == ["id"]
    write_parquet(spark.range(2).select(F.col("id").cast("string")
                                        .alias("name")), p)
    df = read_parquet(spark, p)
    assert df.columns == ["name"]
    assert _rows(df) == [("0",), ("1",)]
    # a writer that bypasses the memo still changes the directory mtime
    spark.range(1).select(F.lit(1.5).alias("x")).write.mode(
        "overwrite").parquet(p)
    df = read_parquet(spark, p)
    assert df.columns == ["x"] and _rows(df) == [("1.5",)]

    # vacuum + recompute: the entry is rewritten at the same path
    rc = ResultCache(spark, str(tmp_path / "rc"))
    q = spark.range(10).groupBy((F.col("id") % 2).alias("g")).count()
    first, hit = rc.get_or_compute(q)
    assert not hit and _rows(first) == [("0", "5"), ("1", "5")]
    assert rc.vacuum() == 1
    again, hit = rc.get_or_compute(q)
    assert not hit and _rows(again) == [("0", "5"), ("1", "5")]
    assert all(size >= 0 for _, size, _ in input_versions(again))


def test_partitioned_write_records_no_schema(spark, tmp_path):
    # partition columns are inferred from directory names (int here, not
    # the written bigint) and move last, so the first read must infer
    p = str(tmp_path / "t")
    df = spark.range(6).select((F.col("id") % 2).alias("g"), F.col("id"))
    write_parquet(df, p, partition_by=("g",))
    _, jobs = spark_jobs(spark, lambda: read_parquet(spark, p))
    assert jobs == 1
    got = _assert_memo_read_exact(spark, p)
    assert got.dtypes == [("id", "bigint"), ("g", "int")]


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(parquet_store, "_CAP", 3)
    paths = [str(tmp_path / f"t{i}") for i in range(5)]
    for p in paths:
        write_parquet(spark.range(1), p)
        assert len(parquet_store._MEMO) <= 3
    # least recently used went first; the newest still read without a job
    assert parquet_store._key(paths[0]) not in parquet_store._MEMO
    _, jobs = spark_jobs(spark, lambda: read_parquet(spark, paths[-1]))
    assert jobs == 0


def test_memo_under_concurrent_threads(tmp_path, monkeypatch):
    # foreachBatch bodies read and write the memo on a callback thread
    # while the caller reads: entries must stay per-key and within the cap
    import sys
    import threading

    monkeypatch.setattr(parquet_store, "_CAP", 4)
    dirs = [str(tmp_path / f"d{i}") for i in range(64)]
    for d in dirs:
        os.mkdir(d)
    wrong = []

    def work(offset):
        try:
            for n in range(5000):
                d = dirs[(offset + n) % len(dirs)]
                if parquet_store.memoized(d, "rows", lambda: d) != d:
                    wrong.append(d)
        except Exception as e:  # a lost race surfaces as KeyError
            wrong.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(7 * i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(parquet_store._MEMO) <= 4
