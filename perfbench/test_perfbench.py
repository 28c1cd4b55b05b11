"""Tests of the benchmark's own code: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import LAYER, WORKLOADS  # noqa: E402

_SQL = "org.apache.spark.sql.execution.ui."

# Arrow schemas of the engine's fixture tables (FIXTURES.md): the generated
# inputs must match them exactly.
FIXTURE_SCHEMAS = {
    "events": "event_id:int64 ts:timestamp[us] user_id:int64 event_type:string value:double props:string",
    "documents": "doc_id:int64 text:string lang:string source:string n_chars:int64",
    "embeddings": "vec_id:int64 embedding:list<element: float> label:int32",
    "region": "r_regionkey:int32 r_name:string",
    "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
    "customer": "c_custkey:int64 c_name:string c_nationkey:int32 c_acctbal:double c_mktsegment:string",
    "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 s_acctbal:double",
    "part": "p_partkey:int64 p_name:string p_brand:string p_type:string p_size:int32 p_retailprice:double",
    "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string o_totalprice:double "
    "o_orderdate:timestamp[us] o_orderpriority:string",
    "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 l_linenumber:int32 l_quantity:double "
    "l_extendedprice:double l_discount:double l_tax:double l_returnflag:string l_linestatus:string "
    "l_shipdate:timestamp[us]",
}


def test_generator_is_byte_identical_per_seed_with_fixture_schemas(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        gen.generate(str(d), seed)
        gen.write_jobs_jsonl(seed, 500, str(d / "jobs.jsonl"))
    names = sorted(os.listdir(a))
    assert names == sorted([f"{t}.parquet" for t in FIXTURE_SCHEMAS] + ["jobs.jsonl"])
    for n in names:
        assert (a / n).read_bytes() == (b / n).read_bytes(), n
        assert (a / n).read_bytes() != (c / n).read_bytes() or n in ("region.parquet", "nation.parquet"), n
    for t, want in FIXTURE_SCHEMAS.items():
        schema = pq.read_schema(a / f"{t}.parquet")
        assert " ".join(f"{f.name}:{f.type}" for f in schema) == want, t


def test_layer_map_names_each_key_by_its_engine_module():
    from hadoop_job_analyzer_spark.registry import oracle_sql, queries

    q, o = queries(), oracle_sql()
    keys = {k for w in WORKLOADS.values() for k in w.keys}
    assert keys == set(LAYER)
    for k in keys:
        assert k in o, f"{k} has no oracle"
        assert q[k].__wrapped__.__module__.rsplit(".", 1)[1] == LAYER[k], k


def test_benchmark_json_lists_exactly_the_metrics_the_runner_emits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def _job(job_id, stages, tag, exec_id):
    props = {eventlog.PASS_PROP: tag[0], eventlog.DESC_PROP: tag[1], "spark.sql.execution.id": str(exec_id)}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, accums):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Update": str(u)} for i, u in accums]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000},
    }


def _node(name, row_id, children=()):
    return {"nodeName": name, "metrics": [{"name": "number of output rows", "accumulatorId": row_id}],
            "children": list(children)}


def test_plan_metrics_come_from_the_final_adaptive_plan_only():
    first = _node("AdaptiveSparkPlan", 1, [_node("Scan", 2)])
    final = _node("AdaptiveSparkPlan", 1, [_node("HashAggregate", 3, [_node("Scan", 2)])])
    events = [
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "sparkPlanInfo": first},
        _job(0, [0], ("warm1", "k"), 0),
        {"Event": _SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 0, "sparkPlanInfo": first},
        _task(0, 10, [(2, 100)]),
        {"Event": _SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 0, "sparkPlanInfo": final},
        _job(1, [1], ("warm1", "k"), 0),
        _task(1, 30, [(2, 50), (3, 4)]),
        {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": 0, "accumUpdates": [[1, 4]]},
    ]
    t = eventlog.parse(events)[("warm1", "k")]
    assert (t.jobs, t.tasks, t.plan_nodes) == (2, 2, 3)
    assert t.plan_rows_out == 150 + 4 + 4  # scan, aggregate, root: each counted once
    assert t.run_s == pytest.approx(0.04)


def test_parser_totals_equal_summed_task_end_metrics(tmp_path):
    """A small real event log: the per-tag totals add up to the raw TaskEnd sums."""
    log_dir = tmp_path / "events"
    log_dir.mkdir()
    run.spark_env(str(log_dir))
    from hadoop_job_analyzer_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark()
    try:
        sc = spark.sparkContext
        for tag in (("warm1", "agg"), ("warm1", "join"), ("warm2", "agg")):
            sc.setLocalProperty(eventlog.PASS_PROP, tag[0])
            sc.setJobDescription(tag[1])
            df = spark.range(20_000).withColumn("g", F.col("id") % 7)
            if tag[1] == "join":
                df = df.join(spark.range(500).withColumnRenamed("id", "g"), "g")
            df.groupBy("g").agg(F.sum("id")).collect()
    finally:
        run.stop_spark(spark)

    (path,) = list(log_dir.iterdir())
    raw = list(eventlog.read_events(str(path)))
    ends = [e for e in raw if e["Event"] == "SparkListenerTaskEnd"]
    totals = eventlog.Totals()
    for t in eventlog.parse(raw).values():
        totals.add(t)
    assert totals.tasks == len(ends) > 0
    assert totals.jobs == sum(e["Event"] == "SparkListenerJobStart" for e in raw)
    assert totals.run_s == pytest.approx(sum(e["Task Metrics"]["Executor Run Time"] for e in ends) / 1e3)
    assert totals.cpu_s == pytest.approx(sum(e["Task Metrics"]["Executor CPU Time"] for e in ends) / 1e9)
    shuffle = sum(e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in ends)
    assert totals.shuffle_write_b == shuffle > 0
    tags = eventlog.parse(raw)
    assert tags[("warm1", "agg")].tasks == tags[("warm2", "agg")].tasks > 0
    assert tags[("warm1", "join")].plan_rows_out > 0


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="job_summary_report_at's ROUND(p99, 1) differs from its DuckDB oracle at .x5 ties "
    "(7128937.9 vs 7128938.0 here), so the report is left out of logs_interactive until fixed",
)
def test_job_report_matches_its_oracle_on_a_generated_history(tmp_path):
    data, jobs = tmp_path / "in", str(tmp_path / "jobs.jsonl")
    gen.generate(str(data), 403)
    gen.write_jobs_jsonl(403, 50_000, jobs)
    run.spark_env(None)
    from hadoop_job_analyzer_spark.operators import scans
    from hadoop_job_analyzer_spark.oracle_check import compare
    from hadoop_job_analyzer_spark.registry import oracle_sql
    from hadoop_job_analyzer_spark.session import get_spark

    sql = oracle_sql()["ops_job_summary_report"]
    assert scans._JOBS_JSONL in sql
    spark = get_spark()
    try:
        compare(scans.job_summary_report_at(spark, jobs), sql.replace(scans._JOBS_JSONL, jobs), str(data))
    finally:
        run.stop_spark(spark)
