"""Spark event-log parser for the traced run.

Every Spark job of the traced run carries two tags: its query key as the
job description (``setJobDescription``) and the benchmark pass as the
local property ``PASS_PROP``. The parser attributes each job, stage and
task to its (pass, key) tag and sums the TaskEnd metrics per tag.

Plan-node metrics (rows out of each operator) come from the *final*
adaptive plan of each SQL execution only: AQE re-posts the whole plan on
every re-optimisation, so walking every update would count the same
operator once per update.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass, fields

PASS_PROP = "perfbench.pass"
DESC_PROP = "spark.job.description"

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Totals:
    """Sums for one tag. Times in seconds, sizes in bytes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0
    plan_nodes: int = 0
    plan_rows_out: int = 0

    def add(self, other: Totals) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


Tag = tuple[str, str]  # (pass label, query key)


def _task_totals(ev: dict) -> Totals:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Totals(
        tasks=1,
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
        shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        input_b=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output_b=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


def _plan_metric_ids(plan: dict) -> tuple[int, list[int]]:
    """Node count of a plan tree and the accumulator ids of its
    ``number of output rows`` metrics."""
    nodes, rows = 0, []
    stack = [plan]
    while stack:
        node = stack.pop()
        nodes += 1
        rows += [m["accumulatorId"] for m in node.get("metrics", []) if m.get("name") == "number of output rows"]
        stack += node.get("children", [])
    return nodes, rows


def read_events(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def parse(events: Iterable[dict]) -> dict[Tag, Totals]:
    """Sum jobs, stages, tasks, TaskEnd metrics and final-plan node metrics
    per (pass, key) tag. Untagged work is keyed ``("", "")``."""
    stage_tag: dict[int, Tag] = {}
    exec_tag: dict[int, Tag] = {}
    final_plan: dict[int, dict] = {}
    accum: dict[int, int] = defaultdict(int)
    out: dict[Tag, Totals] = defaultdict(Totals)

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag = (props.get(PASS_PROP, ""), props.get(DESC_PROP, ""))
            out[tag].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_tag.setdefault(sid, tag)
            if "spark.sql.execution.id" in props:
                exec_tag.setdefault(int(props["spark.sql.execution.id"]), tag)
        elif kind == "SparkListenerStageCompleted":
            out[stage_tag.get(ev["Stage Info"]["Stage ID"], ("", ""))].stages += 1
        elif kind == "SparkListenerTaskEnd":
            out[stage_tag.get(ev["Stage ID"], ("", ""))].add(_task_totals(ev))
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                # SQL metrics carry their update as a decimal string.
                if str(a.get("Update", "")).isdigit():
                    accum[a["ID"]] += int(a["Update"])
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            final_plan[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, value in ev.get("accumUpdates", []):
                accum[aid] += value

    for eid, plan in final_plan.items():
        if eid in exec_tag:
            nodes, row_ids = _plan_metric_ids(plan)
            t = out[exec_tag[eid]]
            t.plan_nodes += nodes
            t.plan_rows_out += sum(accum.get(i, 0) for i in row_ids)
    return dict(out)
