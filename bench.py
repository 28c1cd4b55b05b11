#!/usr/bin/env python
"""Bench harness: warm per-query wall times for the headline queries.

Prints a JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

and then a compact second line that repeats its contract fields with
``"compact_repeat": true``. Both lines carry the same ``metric`` name, so
a consumer that reads every line must drop the ones with
``compact_repeat`` set, or it counts the suite wall twice.

Protocol (BASELINE.md "Bench protocol implications"):
- one shared SparkSession (cold JVM start excluded from all timings);
- hot base tables cached + materialized before timing (the DuckDB
  baseline likewise re-reads warm OS-page-cached files);
- each query runs twice, min reported (first run pays whole-stage
  codegen JIT, which a long-lived cluster amortizes to zero);
- execution forced JVM-side via the `noop` sink — no driver-side
  collect() in the timed path, so the number is plan time, not
  Python transfer time.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default all cores).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_job_analyzer_spark.catalog import load_table
from hadoop_job_analyzer_spark.registry import queries
from hadoop_job_analyzer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Registry keys benched, in run order. Mix of BASELINE.md-comparable
# metrics (pricing summary, Q3-shaped join, window rank, cosine top-k)
# and the scale flagships (sessionize, dedup, minhash-LSH, tf-idf, kNN).
HEADLINE = [
    "agg_group_pricing",
    "join_star_multiway",
    "win_topk_per_group",
    "sim_cosine_topk",
    "win_sessionize",
    "dedup_exact",
    "dedup_near_minhash",
    "text_tfidf",
    "text_wordcount",
    "sim_knn_join",
    "text_fingerprint",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "sim_ann_ivf",
    "decon_ngram_overlap",
    "pack_sequences",
    "corpus_pipeline_e2e",
    "funnel_stages",
    "cohort_retention",
    "sketch_countmin",
    # r3 additions: distributed_rank rewrites + new operators
    "agg_gini_user_activity",
    "text_zipf_fit",
    "sketch_heavy_hitters",
    "text_pii_scrub",
    # r4 additions: bucketed exact dedup, bloom runtime filter, PQ,
    # containment dedup, repetition scoring
    "dedup_embedding_bucketed",
    "join_bloom_prejoin",
    "emb_pq_quantize",
    "dedup_containment",
    "text_repetition_score",
    # r4 wave 3: LSH cross-decon + the seasonal-strength agg
    "decon_near_minhash",
    "ts_seasonal_strength_dow",
    # r4 wave 10: the ops flagship composition
    "ops_session_report_e2e",
    # r5 flagships: cap-safe LSH + components, iterative k-means, the
    # two-stage rerank, corpus dup-mass report, upstream job report
    "dedup_near_minhash_full",
    "dedup_components_full",
    "emb_kmeans_iterative",
    "sim_rerank_two_stage",
    "text_dup_gram_mass",
    "ops_job_summary_report",
    # r6 additions: Q7 snowflake, Theil concentration, blocked
    # edit-distance fuzzy join, and the reshaped (now hash-graded)
    # fixed-step PCA
    "join_q7_volume_shipping",
    "agg_theil_index",
    "text_edit_distance_join",
    "emb_pca_top_component",
    # r11 addition: the former off-basket weak key, rewritten this round
    # (fused bucket-chain, 1.55x DuckDB at x256) — in HEADLINE so every
    # future BENCH_r{N} tracks it at sf0.1 (NOT in the frozen basket;
    # full_suite_wall is documented as growing with the suite)
    "agg_session_bounce_rate",
]

CACHE_TABLES = ["lineitem", "orders", "customer", "events", "documents", "embeddings"]

# FROZEN round-over-round comparison basket — the exact 26 queries BENCH_r03
# ran (rounds ≥5 emit its wall separately so suite growth never pollutes the
# trend; VERDICT r4 "Next round #6"). Do NOT edit this list; grow HEADLINE.
COMPARABLE_BASKET = (
    "agg_group_pricing",
    "join_star_multiway",
    "win_topk_per_group",
    "sim_cosine_topk",
    "win_sessionize",
    "dedup_exact",
    "dedup_near_minhash",
    "text_tfidf",
    "text_wordcount",
    "sim_knn_join",
    "text_fingerprint",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "sim_ann_ivf",
    "decon_ngram_overlap",
    "pack_sequences",
    "corpus_pipeline_e2e",
    "funnel_stages",
    "cohort_retention",
    "sketch_countmin",
    "agg_gini_user_activity",
    "text_zipf_fit",
    "sketch_heavy_hitters",
    "text_pii_scrub",
    "events_hourly",
)


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only twin of BASELINE.md's `events_hourly` (hour x type agg).

    r12: hour truncation is epoch ARITHMETIC (secs - secs % 3600), not
    date_trunc — identical output under the session's pinned UTC zone
    (row-equality verified at x4096), but date_trunc pays a
    zone-aware ZonedDateTime conversion per row inside codegen while
    the arithmetic stays in long registers: measured 4.8-5.3 s →
    3.4-4.3 s on the 410 M-row x4096 staging (~1.4×). The same-scale
    ratio for this floor row drops accordingly (floor_crossover)."""
    ev = load_table(spark, sf_dir, "events")
    secs = F.col("ts").cast("long")
    return ev.groupBy(
        (secs - F.pmod(secs, F.lit(3600))).cast("timestamp").alias("ts_hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))


# Iterative keys run their driver-looped rounds EAGERLY inside fn() via
# localCheckpoint, so timing only the final noop write recorded ~0.02 s
# for multi-second queries (BENCH_r04/r05 artifact). These keys time
# construction + execution together. Everything else keeps execution-only
# timing: PySpark DataFrame construction is ~0.3-0.6 s of py4j plan-build
# chatter per query (measured) that (a) is irrelevant to plan quality and
# (b) would break the frozen basket's round-over-round comparability.
# INVARIANT (ADVICE r8 #4): every eager_release-backed key (operators/
# _common.py) runs entirely at construction time — if one is ever added
# to HEADLINE it MUST also be listed here, else it benches at ~0s.
CONSTRUCTION_TIMED = {
    "dedup_components_full",
    "emb_kmeans_iterative",
    "emb_pca_top_component",  # gram partials collect + power steps run in fn()
    # r11: the fused bounce plan runs its dictionary/bounds pre-pass (one
    # codegen scan + O(1) collect) inside fn() — timing only the noop
    # write would omit a real data-scan job
    "agg_session_bounce_rate",
}


# Clean-session calibration-probe band (BASELINE.md r10 checkpoint,
# measured across four clean solo sessions). The BINDING read rule lives
# in BASELINE.md: a probe ≥ 1.5× above its band ceiling means the suite
# ran under load and same-magnitude per-query deltas are load, not
# regressions. r11 (VERDICT r10 task #3): bench.py applies that rule
# ITSELF and stamps `load_contaminated` into the emitted JSON so a
# BENCH_r{N} can never be misread as a regression without opening
# BASELINE.md. Update these alongside the BASELINE.md table when new
# clean anchors move the band.
# r11 re-anchor (r11_bench_anchor_{1..4}): starts 0.126-0.154 across
# all four solo draws — every one above the r10 ceiling (0.118-0.124),
# so the r10 start band no longer describes a clean session (suite
# growth + JIT profile drift); ends 0.054-0.067 across the three clean
# draws (anchor 1's 0.174 end was itself flagged — transient load).
# Moved per the BASELINE.md two-file protocol.
# r13 re-anchor (two-file move per the BASELINE.md protocol; evidence
# verification/r13_bench_anchor_{1..14}.json + steal trace): 14 solo
# draws on 2026-08-16 never produced an end probe inside the r11 band
# (min 0.0767 across all draws, including the two whose BASKET landed
# in the frozen clean band at 11.11/11.58 s), and in-band baskets
# occurred with starts up to 0.1715 — the warm floor rose ~1.3x while
# DuckDB on the same box got FASTER than its frozen baseline, so the
# drift is JVM/scheduler-floor, not box speed (guest steal <=1.4%
# throughout). Ceilings re-pinned to the max probe observed across the
# two basket-in-band draws (7/8: starts 0.1715/0.1404, ends
# 0.0855/0.0767 — draw 6, basket 12.12, is NOT in-band and contributes
# nothing to the band); floors kept (a faster-than-band probe is not a
# contamination signal). The basket self-label below closes the
# false-clean gap a wider probe band opens.
PROBE_BAND = {"start": (0.126, 0.172), "end": (0.052, 0.086)}
PROBE_INFLATION_FACTOR = 1.5

# The frozen sf0.1 solo clean band for COMPARABLE_BASKET (BASELINE.md,
# constant since r9; re-attained on 2026-08-16 draws 7/8 at 11.58/11.11
# after a 7-draw warm-up). Emitted as a direct self-label so a record
# whose probes slip through the (necessarily loose) probe band cannot
# read as clean while its basket sits above the band — the basket IS
# the quantity the rounds trend, so it gets its own verdict.
BASKET_CLEAN_BAND = (10.5, 11.6)


def _basket_verdict(basket_wall: float) -> dict:
    """Label the basket wall against the frozen sf0.1 clean band.
    `above_band` on a record whose probes read clean means mid-suite
    load the endpoint probes missed (r13 anchors 6/9/11: load arrives
    on a minutes timescale) — adjudicate against solo anchors, don't
    read per-query deltas as regressions. Only meaningful at sf0.1 on
    the standard box; other SFs emit no verdict."""
    lo, hi = BASKET_CLEAN_BAND
    verdict = "in_band" if basket_wall <= hi else "above_band"
    if basket_wall < lo:
        verdict = "below_band"
    return {"basket_clean_band": [lo, hi], "basket_vs_band": verdict}


def _probe_contamination(probe_start: float, probe_end: float) -> dict:
    """The BASELINE.md read rule as code: contaminated iff either probe
    is ≥ 1.5× its clean-band ceiling. A probe BETWEEN the band ceiling
    and that trigger is the cold-box signature (r12 post-reboot anchors:
    39.6 → 31.2 → 28.8 s walls with probes 0.171 → 0.165 → 0.130 —
    every query inflated the same way, settling within ~3 draws), so
    it's labeled `elevated_positions` / `cold_box_suspect` rather than
    silently passing as clean: compare such a record against a later
    draw before adjudicating regressions (BASELINE.md cold-box rule)."""
    probes = {"start": probe_start, "end": probe_end}
    verdicts = {
        k: p >= PROBE_BAND[k][1] * PROBE_INFLATION_FACTOR
        for k, p in probes.items()
    }
    # Strict `<` on the ceiling (ADVICE r12): the band is documented
    # inclusive ("draws graze the 0.154 ceiling from below"), so a probe
    # exactly AT the ceiling is clean; the elevated window is strictly
    # between ceiling and trigger, matching BASELINE.md's wording.
    elevated = {
        k: (PROBE_BAND[k][1] < p < PROBE_BAND[k][1] * PROBE_INFLATION_FACTOR)
        for k, p in probes.items()
    }
    out = {
        "load_contaminated": verdicts["start"] or verdicts["end"],
        "probe_band": {k: list(v) for k, v in PROBE_BAND.items()},
        "probe_inflation_factor": PROBE_INFLATION_FACTOR,
        "inflated_positions": [k for k, v in verdicts.items() if v],
        "elevated_positions": [k for k, v in elevated.items() if v],
        "cold_box_suspect": (elevated["start"] or elevated["end"])
        and not (verdicts["start"] or verdicts["end"]),
    }
    if out["cold_box_suspect"]:
        # ADVICE r12: the label's evidence (probe between ceiling and
        # trigger) cannot distinguish a cooling box from clean-band
        # drift (r12 close anchors fired it on a warm box whose start
        # band had drifted). Say so IN the record so a reader doesn't
        # need BASELINE.md open to avoid the misread.
        out["cold_box_note"] = (
            "probe between band ceiling and 1.5x trigger; consistent with "
            "a cold/cooling box OR clean-band drift (r12 bisect) — "
            "adjudicate against a later in-band draw, not as a regression"
        )
    return out


# Frozen DuckDB control baseline (VERDICT r13 task #4): the q1 oracle
# at sf0.1, measured 2026-08-13 on this box, warm in-process, single
# run (BASELINE.md "Measured baseline" table). The r13 adjudication
# proved this is the ONE discriminator that works when the box noise
# source is invisible to guest counters (anchors 15/16: 99.9% idle, 0%
# steal, walls 1.4-2.5x inflated): DuckDB-vs-its-own-baseline separates
# box-slow (control inflated too) from JVM/scheduler drift (control at
# or under baseline while Spark walls inflate). Only drawn when a
# record self-stamps contaminated/above-band — a clean record needs no
# adjudication and skips the extra ~1 s.
DUCK_CONTROL_BASELINE_S = 0.093
DUCK_CONTROL_NAME = "q1_pricing_summary"


def _duckdb_control() -> dict:
    """Time the frozen q1 oracle in in-process DuckDB over the same
    sf-dir parquet (median of 5 after one warm run) and report the
    ratio to the frozen 2026-08-13 baseline. `read` states the binding
    interpretation so the adjudication lives in the record itself."""
    import duckdb

    from hadoop_job_analyzer_spark.registry import oracle_sql

    sql = oracle_sql()["agg_group_pricing"]
    con = duckdb.connect()
    # Escape single quotes in the env-controlled path (ADVICE r14 #3):
    # CREATE VIEW is DDL, so DuckDB prepared-statement params can't bind
    # the read_parquet argument — SQL-literal doubling is the contract.
    safe_dir = str(SF_DIR).replace("'", "''")
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{safe_dir}/lineitem.parquet')"
    )
    con.execute(sql).fetchall()  # warm (page cache + duckdb buffers)
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        walls.append(time.perf_counter() - t0)
    con.close()
    wall = round(sorted(walls)[2], 4)
    ratio = round(wall / DUCK_CONTROL_BASELINE_S, 2)
    return {
        "name": DUCK_CONTROL_NAME,
        "wall_median5": wall,
        "frozen_baseline": DUCK_CONTROL_BASELINE_S,
        "ratio_to_baseline": ratio,
        "read": (
            "control inflated with Spark walls => box-slow (discount "
            "per-query deltas); control at/under baseline => drift is "
            "JVM/scheduler-side (adjudicate against solo anchors)"
        ),
    }


def _calibration_probe(spark: SparkSession) -> float:
    """Floor-calibration probe (VERDICT r9 task #2): a fixed, data-light
    query — one small shuffle over the cached events table — whose wall
    is pure scheduler/py4j/codegen floor. Run at suite START and END and
    emitted into the JSON, so a per-query regression can be adjudicated
    against the SAME run's floor instead of a separate solo session:
    if the probe is inflated vs the clean-session probe band
    (BASELINE.md r10 checkpoint), the suite ran under load and in-suite
    deltas of the same magnitude are load, not regressions. Median of 5
    (the probe is cheap; 5 samples beat per-query 3 for stability).
    """
    ev = load_table(spark, SF_DIR, "events")
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return round(sorted(walls)[2], 4)


def run_once(fn, spark: SparkSession, include_construction: bool = False) -> float:
    if include_construction:
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    df = fn(spark, SF_DIR)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark("hja-bench")
    reg = queries()
    basket = {k: reg[k] for k in HEADLINE}
    basket["events_hourly"] = events_hourly

    # Warm: cache + fully materialize the hot base tables (one count each).
    for t in CACHE_TABLES:
        load_table(spark, SF_DIR, t).cache().count()
    # One untimed pass of the cheapest query warms codegen/scheduler paths.
    run_once(basket["agg_group_pricing"], spark)
    probe_start = _calibration_probe(spark)

    # Execution order (r5 VERDICT task #6, measurement hygiene): the FROZEN
    # comparable basket runs FIRST, in its frozen order — exactly the solo
    # protocol that produced the r3 reference number — so later-added heavy
    # HEADLINE queries can no longer perturb basket timings through cache
    # pressure. New queries append after the basket.
    ordered = list(COMPARABLE_BASKET) + [k for k in basket if k not in COMPARABLE_BASKET]
    per_query: dict[str, float] = {}
    per_query_median3: dict[str, float] = {}
    for name in ordered:
        fn = basket[name]
        inc = name in CONSTRUCTION_TIMED
        # Three warm runs per query (r6 VERDICT task #7): the FROZEN
        # round-over-round number stays min-of-the-first-2 (identical
        # protocol to every prior round — adding a third sample to the min
        # would bias it downward and break the trend), and the median of
        # all 3 is emitted alongside as the solo-protocol-robust number
        # the judge asked for (single-run walls drift ±10% with shared-box
        # load; a median inside one session doesn't).
        runs = [run_once(fn, spark, include_construction=inc) for _ in range(3)]
        per_query[name] = round(min(runs[:2]), 4)
        per_query_median3[name] = round(sorted(runs)[1], 4)

    probe_end = _calibration_probe(spark)
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    contamination = _probe_contamination(probe_start, probe_end)
    basket_wall = round(sum(per_query[k] for k in COMPARABLE_BASKET), 4)
    basket = _basket_verdict(basket_wall) if sf == 0.1 else {}
    # DuckDB control draw (VERDICT r13 task #4): only on records that
    # need adjudication, and only at sf0.1 where the frozen baseline
    # applies. Any self-label (contaminated probes, elevated/cold-box
    # window, above-band basket) triggers it.
    needs_control = sf == 0.1 and (
        contamination["load_contaminated"]
        or contamination["cold_box_suspect"]
        or basket.get("basket_vs_band") == "above_band"
    )
    control = {"duckdb_control": _duckdb_control()} if needs_control else {}
    print(
        json.dumps(
            {
                "metric": "warm_headline_suite_wall",
                "value": round(sum(per_query.values()), 4),
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "full_suite_wall": round(sum(per_query.values()), 4),
                "comparable_basket_wall": round(
                    sum(per_query[k] for k in COMPARABLE_BASKET), 4
                ),
                "comparable_basket_n": len(COMPARABLE_BASKET),
                "queries_median3": per_query_median3,
                "full_suite_wall_median3": round(sum(per_query_median3.values()), 4),
                "comparable_basket_wall_median3": round(
                    sum(per_query_median3[k] for k in COMPARABLE_BASKET), 4
                ),
                # Floor calibration (see _calibration_probe): compare to
                # the clean-session probe band in BASELINE.md before
                # reading any per-query delta as a regression.
                "calibration_probe": {
                    "name": "events_type_count_median5",
                    "start": probe_start,
                    "end": probe_end,
                    **contamination,
                },
                **basket,
                **control,
            }
        )
    )
    # Tail-capture insurance (VERDICT r16 #4): the driver stores only a
    # 2000-char tail of the bench output, and r15's single ~4 KB line
    # lost its leading fields to that truncation (BENCH_r15 parsed:
    # null). Repeat the CONTRACT fields — metric/value/unit/queries/sf
    # plus the basket verdict — as a SECOND, compact line (~1.6 KB) so
    # whichever line a capture keeps, a full contract record survives.
    # Additions-only: the first line above is byte-identical to r16's.
    print(
        json.dumps(
            {
                "metric": "warm_headline_suite_wall",
                "value": round(sum(per_query.values()), 4),
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "comparable_basket_wall": basket_wall,
                **{k: v for k, v in basket.items() if k == "basket_vs_band"},
                "compact_repeat": True,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
