#!/usr/bin/env python3
"""Benchmark of record for the engine: one workload, one closed-loop client.

    python3 perfbench/run.py --workload logs_interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``), cached on
   disk per (workload, seed) under ``.perfbench/`` and excluded from timing;
2. sets up: imports the engine, ``get_spark()``, caches the base tables;
3. runs a cold pass over the workload's keys, then warm passes until
   ``--seconds`` have gone by since the cold pass began, calling
   ``release_transient_caches()`` after every pass. A key is timed from its
   ``queries()[k]`` call to the end of its ``noop`` write;
4. checks every key's output against its DuckDB oracle, outside the passes.

``--trace 0`` reports the end-to-end metrics: ``setup_s``, ``cold_pass_s``
and ``warm_pass_s`` (median of the warm passes after the first, which runs
before the JIT has settled). ``--trace 1`` is a separate run that tags
every Spark job with its key and pass, switches Spark's event log on from
outside through ``PYSPARK_SUBMIT_ARGS``, and reports the per-layer metrics,
including its overhead against an untraced run (see ``untraced_warm``).

Failed key invocations (raised, or output unequal to the oracle) are
counted against attempted invocations; their time stays in the passes.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import box  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402  (imported before set-up starts in every run, so
# numpy/pyarrow import cost never moves between set-up and generation)
from workloads import LAYER, WORKLOADS, Workload  # noqa: E402

# Warm passes measured after the discarded first one; the loop runs at
# least this many even when --seconds is spent, so the median always has
# samples.
MIN_WARM = 2

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit. The
    names are the same for every workload; a layer a workload never calls
    reads 0."""
    m = {
        "session.get_spark_s": "s",
        "catalog.cache_s": "s",
        "registry.construct_s": "s",
        "registry.execute_s": "s",
        "jit.cold_minus_warm_s": "s",
        "oracle.check_s": "s",
        "oracle.duckdb_pass_s": "s",
    }
    for mod in sorted(set(LAYER.values())):
        m |= {f"operators.{mod}.warm_s": "s", f"operators.{mod}.jobs": "count",
              f"operators.{mod}.stages": "count", f"operators.{mod}.tasks": "count"}
    for key in sorted(LAYER):
        m |= {f"key.{key}.warm_s": "s", f"key.{key}.jobs": "count", f"key.{key}.tasks": "count"}
    m |= {
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.driver_share": "frac",
        "spark.task_run_s": "s",
        "spark.task_cpu_s": "s",
        "spark.run_minus_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.input_mb": "MB",
        "spark.output_mb": "MB",
        "spark.plan_nodes": "count",
        "spark.plan_rows_out": "count",
        "jvm.hwm_mb": "MB",
        "box.steal_frac": "frac",
        "box.cpu_control_s": "s",
        "trace.overhead_frac": "frac",
    }
    return m


def ensure_inputs(w: Workload, seed: int) -> str:
    """Generated inputs for (workload, seed); only the latest seed of each
    workload is kept on disk."""
    d = os.path.join(WORK, "inputs", w.name)
    stamp = os.path.join(d, "SEED")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == str(seed):
                return d
    shutil.rmtree(d, ignore_errors=True)
    gen.generate(d, seed)
    with open(stamp, "w") as f:
        f.write(str(seed))
    return d


def spark_env(trace_dir: str | None) -> None:
    """Keep every scratch file of Spark and its Python workers inside the
    checkout, and switch the event log on from outside the engine."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # the last run's scratch
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace_dir:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={trace_dir}",
            # zstd, Spark's default codec for event logs, is not installed.
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = [a for c in conf for a in ("--conf", c)]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


class Run:
    """One benchmark run: the session, the workload's callables and spans."""

    def __init__(self, w: Workload, data: str, trace: bool):
        self.w, self.data, self.trace = w, data, trace
        self.spans: list[dict] = []

    def span(self, name: str, layer: str, start: float, end: float, parent: str) -> None:
        self.spans.append({"name": name, "layer": layer, "start": start, "end": end, "parent": parent})

    def setup(self) -> float:
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from hadoop_job_analyzer_spark.catalog import load_table
        from hadoop_job_analyzer_spark.registry import oracle_sql, queries
        from hadoop_job_analyzer_spark.session import get_spark

        q, o = queries(), oracle_sql()
        t1 = time.perf_counter()
        self.spark = get_spark()
        t2 = time.perf_counter()
        for t in self.w.tables:
            load_table(self.spark, self.data, t).cache().count()
        t3 = time.perf_counter()
        self.span("import", "registry", t0, t1, "setup")
        self.span("get_spark", "session", t1, t2, "setup")
        self.span("cache", "catalog", t2, t3, "setup")

        self.fns = {k: q[k] for k in self.w.keys}
        self.oracles = {k: o[k] for k in self.w.keys}
        return t3

    def run_pass(self, label: str) -> list[dict]:
        from hadoop_job_analyzer_spark.session import release_transient_caches

        sc = self.spark.sparkContext
        if self.trace:
            sc.setLocalProperty(eventlog.PASS_PROP, label)
        recs = []
        for k in self.w.keys:
            if self.trace:
                sc.setJobDescription(k)
            t0 = time.perf_counter()
            t1 = None
            err = None
            try:
                df = self.fns[k](self.spark, self.data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failing key is counted, and its time kept
                err = f"{label} {k}: {type(e).__name__}: {e}"
                traceback.print_exc()
            t2 = time.perf_counter()
            t1 = t1 or t2
            self.span(k, "registry.construct", t0, t1, label)
            self.span(k, "registry.execute", t1, t2, label)
            recs.append({"key": k, "construct_s": t1 - t0, "execute_s": t2 - t1, "error": err})
        release_transient_caches()
        return recs

    def gate(self) -> dict[str, str | None]:
        """Oracle comparison per key; None means equal."""
        from hadoop_job_analyzer_spark.oracle_check import compare

        sc = self.spark.sparkContext
        if self.trace:
            sc.setLocalProperty(eventlog.PASS_PROP, "gate")
        out = {}
        for k in self.w.keys:
            if self.trace:
                sc.setJobDescription(k)
            t0 = time.perf_counter()
            try:
                compare(self.fns[k](self.spark, self.data), self.oracles[k], self.data, k)
                out[k] = None
            except Exception as e:  # a mismatch or a raise fails the key
                out[k] = f"oracle {k}: {type(e).__name__}: {str(e)[:500]}"
            self.span(k, "oracle_check", t0, time.perf_counter(), "gate")
        return out

    def duckdb_pass(self) -> float:
        """DuckDB's own time over the workload's oracle SQL: the control."""
        from hadoop_job_analyzer_spark.oracle_check import duck_connect

        con = duck_connect(self.data)
        try:
            t0 = time.perf_counter()
            for k in self.w.keys:
                con.execute(self.oracles[k]).fetchall()
            return time.perf_counter() - t0
        finally:
            con.close()

    def versions(self) -> dict:
        import duckdb

        jvm = self.spark.sparkContext._jvm
        return {
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
        }

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None  # a later session launches a fresh JVM


def pass_total(recs: list[dict]) -> float:
    return sum(r["construct_s"] + r["execute_s"] for r in recs)


def layer_metrics(run: Run, measured: list[list[dict]], cold: list[dict], res: dict,
                  tags: dict, cores: int, base_warm: float) -> dict[str, float]:
    """Per-layer numbers of a traced run: medians over the measured warm
    passes, counts from the event log."""
    med = statistics.median
    m = dict.fromkeys(per_layer_units(), 0.0)
    spans = {(s["layer"], s["name"]): s["end"] - s["start"] for s in run.spans if s["parent"] == "setup"}
    m["session.get_spark_s"] = spans[("session", "get_spark")]
    m["catalog.cache_s"] = spans[("catalog", "cache")]
    m["registry.construct_s"] = med(sum(r["construct_s"] for r in p) for p in measured)
    m["registry.execute_s"] = med(sum(r["execute_s"] for r in p) for p in measured)
    m["jit.cold_minus_warm_s"] = pass_total(cold) - res["warm_pass_s"]
    m["oracle.check_s"] = res["oracle_check_s"]
    m["oracle.duckdb_pass_s"] = res["duckdb_pass_s"]
    for k in run.w.keys:
        mod = LAYER[k]
        warm = med(r["construct_s"] + r["execute_s"] for p in measured for r in p if r["key"] == k)
        m[f"key.{k}.warm_s"] = warm
        m[f"operators.{mod}.warm_s"] += warm

    labels = [f"warm{i}" for i in range(1, len(measured) + 1)]
    per_pass = []
    for lab in labels:
        tot = eventlog.Totals()
        for k in run.w.keys:
            t = tags.get((lab, k), eventlog.Totals())
            tot.add(t)
            mod = LAYER[k]
            m[f"key.{k}.jobs"] += t.jobs / len(labels)
            m[f"key.{k}.tasks"] += t.tasks / len(labels)
            m[f"operators.{mod}.jobs"] += t.jobs / len(labels)
            m[f"operators.{mod}.stages"] += t.stages / len(labels)
            m[f"operators.{mod}.tasks"] += t.tasks / len(labels)
        per_pass.append(tot)
    mb = 1 / (1 << 20)
    m["spark.jobs"] = med(t.jobs for t in per_pass)
    m["spark.stages"] = med(t.stages for t in per_pass)
    m["spark.tasks"] = med(t.tasks for t in per_pass)
    m["spark.task_run_s"] = med(t.run_s for t in per_pass)
    m["spark.task_cpu_s"] = med(t.cpu_s for t in per_pass)
    m["spark.run_minus_cpu_s"] = med(t.run_s - t.cpu_s for t in per_pass)
    m["spark.gc_s"] = med(t.gc_s for t in per_pass)
    m["spark.shuffle_write_mb"] = med(t.shuffle_write_b * mb for t in per_pass)
    m["spark.shuffle_read_mb"] = med(t.shuffle_read_b * mb for t in per_pass)
    m["spark.spill_mb"] = med(t.spill_b * mb for t in per_pass)
    m["spark.input_mb"] = med(t.input_b * mb for t in per_pass)
    m["spark.output_mb"] = med(t.output_b * mb for t in per_pass)
    m["spark.plan_nodes"] = med(t.plan_nodes for t in per_pass)
    m["spark.plan_rows_out"] = med(t.plan_rows_out for t in per_pass)
    m["spark.driver_share"] = med(
        1 - t.run_s / (cores * pass_total(p)) for t, p in zip(per_pass, measured)
    )
    m["jvm.hwm_mb"] = res["jvm_hwm_mb"]
    m["box.steal_frac"] = res["steal_frac"]
    m["box.cpu_control_s"] = res["cpu_control_s"]
    m["trace.overhead_frac"] = res["warm_pass_s"] / base_warm - 1
    return m


def record_path(w: Workload, seed: int, trace: int) -> str:
    return os.path.join(WORK, "records", f"{w.name}-seed{seed}-trace{trace}.json")


def untraced_warm(w: Workload, seed: int) -> tuple[float, str]:
    """warm_pass_s of an untraced run of the same workload, and where it
    came from: this checkout's run on the same seed, else its latest run on
    any seed, else the committed steadiness record (median of its runs)."""
    path = record_path(w, seed, 0)
    if not os.path.exists(path):
        runs = glob.glob(os.path.join(WORK, "records", f"{w.name}-seed*-trace0.json"))
        path = max(runs, key=os.path.getmtime) if runs else ""
    if path:
        with open(path) as f:
            return json.load(f)["end_to_end"]["warm_pass_s"], os.path.relpath(path, ROOT)
    path = os.path.join(HERE, "steadiness", f"{w.name}.json")
    with open(path) as f:
        return json.load(f)["summary"]["warm_pass_s"]["median"], os.path.relpath(path, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description="Benchmark of record: one workload, one closed-loop client.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "hadoop_job_analyzer_spark", "registry.py")):
        print(f"engine package not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    w = WORKLOADS[a.workload]

    cpu0 = box.cpu_times()
    data = ensure_inputs(w, a.seed)
    trace_dir = None
    if a.trace:
        trace_dir = os.path.join(WORK, "trace", w.name)
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)

    spark_env(trace_dir)
    t_setup0 = time.perf_counter()
    run = Run(w, data, bool(a.trace))
    t_ready = run.setup()
    res: dict = {"setup_s": t_ready - t_setup0}

    controls = []
    t_pass0 = time.perf_counter()
    cold = run.run_pass("cold")
    warm: list[list[dict]] = []
    while len(warm) < MIN_WARM + 1 or time.perf_counter() - t_pass0 < a.seconds:
        controls.append(box.cpu_control_s())
        warm.append(run.run_pass(f"warm{len(warm)}"))
    measured = warm[1:]
    res["cold_pass_s"] = pass_total(cold)
    res["warm_pass_s"] = statistics.median(pass_total(p) for p in measured)

    t0 = time.perf_counter()
    verdicts = run.gate()
    res["oracle_check_s"] = time.perf_counter() - t0
    res["duckdb_pass_s"] = run.duckdb_pass() if a.trace else 0.0
    res["cpu_control_s"] = statistics.median(controls)
    stamp = box.stamp() | run.versions()
    res["jvm_hwm_mb"] = box.vm_hwm_mb(run.jvm_pid())
    cores = run.spark.sparkContext.defaultParallelism
    stop_spark(run.spark)
    res["steal_frac"] = box.steal_frac(cpu0, box.cpu_times())

    errors = [r["error"] for p in [cold, *warm] for r in p if r["error"]]
    errors += [v for v in verdicts.values() if v]
    attempted = len(w.keys) * (1 + len(warm)) + len(verdicts)
    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)

    if a.trace:
        logs = [os.path.join(trace_dir, f) for f in os.listdir(trace_dir)]
        tags = eventlog.parse(e for p in logs for e in eventlog.read_events(p))
        base_warm, base_src = untraced_warm(w, a.seed)
        print(f"trace.overhead_frac is against the untraced warm_pass_s in {base_src}")
        metrics = layer_metrics(run, measured, cold, res, tags, cores, base_warm)
        units = per_layer_units()
        with open(os.path.join(trace_dir, "spans.json"), "w") as f:
            json.dump(run.spans, f)
    else:
        metrics = {k: res[k] for k in END_TO_END}
        units = END_TO_END

    record = {
        "workload": w.name, "seed": a.seed, "trace": a.trace, "box": stamp,
        "pass_s": {"cold": pass_total(cold), "warm": [pass_total(p) for p in warm]},
        "end_to_end": {k: res[k] for k in END_TO_END},
        "context": {k: res[k] for k in ("oracle_check_s", "cpu_control_s", "jvm_hwm_mb", "steal_frac")},
        "per_key_warm_s": {k: statistics.median(r["construct_s"] + r["execute_s"] for p in measured
                                                for r in p if r["key"] == k) for k in w.keys},
        "attempted": attempted, "failed": len(errors), "errors": errors,
    }
    os.makedirs(os.path.dirname(record_path(w, a.seed, a.trace)), exist_ok=True)
    with open(record_path(w, a.seed, a.trace), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {w.name} seed {a.seed}: {len(w.keys)} keys, 1 cold + {len(warm)} warm passes "
          f"(first warm discarded), box {json.dumps(stamp)}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_ops_frac {len(errors) / attempted:.6g} frac ({len(errors)}/{attempted})")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
