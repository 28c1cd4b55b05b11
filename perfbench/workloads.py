"""The benchmark's workloads and why each exists.

Each workload is a closed loop with one client: a single process calls the
engine's public query functions one after another and waits for each
result, the way an analyst waits for each report. The inputs are generated
from the run's seed (``gen.py``); the engine only ever sees those files.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    keys: tuple[str, ...]  # registry keys
    tables: tuple[str, ...]  # base tables cached during set-up

# The engine module each key's operator lives in: the per-layer rollup
# ``operators.<module>.*``. Fixed here so the metric names stay put if code
# moves; test_perfbench.py checks it against the registry.
LAYER = {
    "funnel_stages": "windows",
    "agg_count_distinct": "aggs",
    "agg_dow_hour_heatmap": "aggs",
    "agg_apdex_score": "quality",
    "ops_session_report_e2e": "quality",
    "sink_parquet_partitioned": "scans",
    "dedup_exact": "llm",
    "sim_knn_join": "llm",
    "text_quality": "textops",
    "dedup_embedding": "neardup",
    "corpus_pipeline_e2e": "corpus",
}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="logs_interactive",
            why=(
                "Floor-bound job-log reports and a partitioned parquet write over "
                "fixture-sized events: per-query plan build, scheduling and task count "
                "dominate."
            ),
            keys=(
                "funnel_stages",
                "agg_count_distinct",
                "agg_dow_hour_heatmap",
                "agg_apdex_score",
                "ops_session_report_e2e",
                "sink_parquet_partitioned",
            ),
            tables=("events",),
        ),
        Workload(
            name="corpus_dedup",
            why=(
                "LLM-corpus dedup over documents with planted duplicate families and "
                "embeddings with planted near-copies: Arrow/Python-worker kernels "
                "dominate, and the events path is never touched."
            ),
            keys=(
                "dedup_exact",
                "sim_knn_join",
                "text_quality",
                "dedup_embedding",
                "corpus_pipeline_e2e",
            ),
            tables=("documents", "embeddings"),
        ),
    )
}
