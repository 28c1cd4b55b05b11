"""Fixture-drift guard (VERDICT r2 #9): load_table must yield the pinned
dtypes for every table at every sf dir present.

Round 2 shipped red because the driver regenerated events.parquet with
ts as timestamp[us] (was timestamp[ns]) and the unconditional ns→µs
recipe in load_table crashed 48/177 keys. This test makes the next
silent testdata regeneration fail ONE cheap test instead of 48 queries.
"""

from __future__ import annotations

import os

import pytest

from hadoop_job_analyzer_spark.catalog import COLUMNS, TABLES, load_table, table_path

SF_ROOT = "/root/testdata"

# Pinned post-load dtypes (Spark simpleString). events.ts must land as
# session-TZ timestamp regardless of which fixture generation is on disk.
PINNED: dict[str, dict[str, str]] = {
    "region": {'r_regionkey': 'int', 'r_name': 'string'},
    "nation": {'n_nationkey': 'int', 'n_name': 'string', 'n_regionkey': 'int'},
    "customer": {'c_custkey': 'bigint', 'c_name': 'string', 'c_nationkey': 'int', 'c_acctbal': 'double', 'c_mktsegment': 'string'},
    "supplier": {'s_suppkey': 'bigint', 's_name': 'string', 's_nationkey': 'int', 's_acctbal': 'double'},
    "part": {'p_partkey': 'bigint', 'p_name': 'string', 'p_brand': 'string', 'p_type': 'string', 'p_size': 'int', 'p_retailprice': 'double'},
    "orders": {'o_orderkey': 'bigint', 'o_custkey': 'bigint', 'o_orderstatus': 'string', 'o_totalprice': 'double', 'o_orderdate': 'timestamp_ntz', 'o_orderpriority': 'string'},
    "lineitem": {'l_orderkey': 'bigint', 'l_partkey': 'bigint', 'l_suppkey': 'bigint', 'l_linenumber': 'int', 'l_quantity': 'double', 'l_extendedprice': 'double', 'l_discount': 'double', 'l_tax': 'double', 'l_returnflag': 'string', 'l_linestatus': 'string', 'l_shipdate': 'timestamp_ntz'},
    "events": {'event_id': 'bigint', 'ts': 'timestamp', 'user_id': 'bigint', 'event_type': 'string', 'value': 'double', 'props': 'string'},
    "documents": {'doc_id': 'bigint', 'text': 'string', 'lang': 'string', 'source': 'string', 'n_chars': 'bigint'},
    "embeddings": {'vec_id': 'bigint', 'embedding': 'array<float>', 'label': 'int'},
}


def _sf_dirs() -> list[str]:
    if not os.path.isdir(SF_ROOT):
        return []
    return sorted(
        os.path.join(SF_ROOT, d)
        for d in os.listdir(SF_ROOT)
        if d.startswith("sf") and os.path.isdir(os.path.join(SF_ROOT, d))
    )


@pytest.mark.parametrize("table", TABLES)
def test_pinned_dtypes_every_sf(spark, table):
    assert set(PINNED[table]) == set(COLUMNS[table])
    dirs = _sf_dirs()
    assert dirs, f"no sf dirs under {SF_ROOT}"
    for sf_dir in dirs:
        df = load_table(spark, sf_dir, table)
        got = dict(df.dtypes)
        assert got == PINNED[table], f"{table} at {sf_dir}: {got}"


def test_events_ts_values_sane(spark):
    """ts must decode to the 2024 fixture window, not 1970 (a wrong
    ns/µs recipe lands decades off — value-level guard, not just dtype)."""
    from pyspark.sql import functions as F

    df = load_table(spark, f"{SF_ROOT}/sf0.001", "events")
    row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert row["lo"].year == 2024, row
    assert row["hi"].year in (2024, 2025), row


# --- Schema memo ------------------------------------------------------


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under a job group; return its result and the number of
    Spark jobs it submitted (the listener bus is drained first, so a job
    that ran is always counted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_events(path, ts_unit: str) -> None:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0, 123456)
    n = 8
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(minutes=i) for i in range(n)], pa.timestamp(ts_unit)
                ),
                "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
                "event_type": pa.array(["click"] * n),
                "value": pa.array([float(i) for i in range(n)]),
                "props": pa.array(["{}"] * n),
            }
        ),
        str(path),
    )


def test_second_load_of_unchanged_file_runs_no_job(spark, sf_dir, tmp_path):
    """The first load infers the schema (one job); a second load of the
    same unchanged file reads with the memo and submits no job."""
    import shutil

    shutil.copy(table_path(sf_dir, "events"), table_path(str(tmp_path), "events"))
    first, n_first = _jobs_in_group(
        spark, "memo-first", lambda: load_table(spark, str(tmp_path), "events")
    )
    second, n_second = _jobs_in_group(
        spark, "memo-second", lambda: load_table(spark, str(tmp_path), "events")
    )
    assert n_first >= 1
    assert n_second == 0
    assert second.dtypes == first.dtypes == list(PINNED["events"].items())


def test_memo_read_still_hits_the_table_cache(spark, sf_dir, tmp_path):
    """A table cached through the inferred read is still found in the
    cache by a later schema'd read."""
    import shutil

    shutil.copy(table_path(sf_dir, "events"), table_path(str(tmp_path), "events"))
    cached = load_table(spark, str(tmp_path), "events").cache()
    try:
        cached.count()
        df, n_jobs = _jobs_in_group(
            spark, "memo-cached", lambda: load_table(spark, str(tmp_path), "events")
        )
        assert n_jobs == 0
        plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
        assert "InMemoryRelation" in plan, plan
    finally:
        cached.unpersist(blocking=True)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """The fixture drift case: events.ts rewritten from timestamp[us] to
    timestamp[ns] in place must be re-inferred (a stale µs schema would
    fail on the ns file) and still load as the pinned timestamp."""
    import time

    from pyspark.sql import functions as F

    path = tmp_path / "events.parquet"
    _write_events(path, "us")
    before = os.stat(path)
    us = load_table(spark, str(tmp_path), "events")
    assert dict(us.dtypes) == PINNED["events"]
    us_rows = us.orderBy("event_id").collect()

    time.sleep(0.05)  # a later mtime, past the filesystem's clock tick
    _write_events(path, "ns")
    after = os.stat(path)
    assert (before.st_size, before.st_mtime_ns) != (after.st_size, after.st_mtime_ns)
    ns = load_table(spark, str(tmp_path), "events")
    assert dict(ns.dtypes) == PINNED["events"]
    lo = ns.agg(F.min("ts").alias("lo")).collect()[0]["lo"]
    assert lo.year == 2024, lo
    assert ns.orderBy("event_id").collect() == us_rows
