"""Seeded, single-process input generator for the benchmark workloads.

Every table has the column names and Arrow types of the engine's fixture
tables, so the registered keys and their DuckDB oracles run on it
unchanged. The same seed gives byte-identical files: all randomness comes
from one ``numpy.random.Generator`` per table, and the files are written
without wall-clock metadata.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture row counts at sf0.1.
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_VECS = 2_000
EMB_DIM = 64

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
FRAMEWORKS = ["hive", "pig", "cascading", "streaming", "native"]
STATUSES = ["SUCCEEDED", "FAILED", "KILLED"]
COUNTER_KEYS = ["hdfs_bytes_read", "hdfs_bytes_written", "map_input_records", "spilled_records"]

# 2024-01-01T00:00:00Z and a 30-day span, as in the fixture's events.ts.
EPOCH_US = 1_704_067_200_000_000
SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    # One independent stream per table, so adding a table never shifts another.
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(table))])


def events(seed: int) -> pa.Table:
    """Job-log events: ts-ordered, dense ids, uniform users and types."""
    rng = _rng(seed, "events")
    n = N_EVENTS
    ts = np.sort(EPOCH_US + rng.integers(0, SPAN_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]),
            "value": pa.array(value, type=pa.float64()),
            "props": pa.array(props[rng.integers(0, 100, n)]),
        }
    )


def _doc_texts(rng: np.random.Generator) -> list[str]:
    """Random texts plus planted duplicate structure the dedup keys must find:
    exact copies, near-duplicate families (a few words changed, ``dup``
    marker appended) and edit chains, where each link differs from the
    previous one by two words, so only transitive closure joins the ends."""
    vocab = np.array(VOCAB, dtype=object)

    def fresh() -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])

    def edit(words: list[str], k: int) -> list[str]:
        out = list(words)
        for i in rng.choice(len(out), size=min(k, len(out)), replace=False):
            out[i] = vocab[rng.integers(0, len(vocab))]
        return out

    docs: list[list[str]] = []
    while len(docs) < N_DOCS:
        roll = rng.random()
        if roll < 0.01 and docs:  # exact copy of an earlier doc
            docs.append(list(docs[rng.integers(0, len(docs))]))
        elif roll < 0.03:  # near-duplicate family of 3-6 members
            base = fresh()
            docs.append(base)
            for _ in range(rng.integers(2, 6)):
                docs.append(edit(base, int(rng.integers(1, 3))) + ["dup"])
        elif roll < 0.035:  # edit chain of 4-8 links over a long base
            cur = list(vocab[rng.integers(0, len(vocab), rng.integers(60, 101))])
            for _ in range(rng.integers(4, 9)):
                docs.append(cur)
                cur = edit(cur, 2)
        else:
            docs.append(fresh())
    return [" ".join(d) for d in docs[:N_DOCS]]


def documents(seed: int) -> pa.Table:
    rng = _rng(seed, "documents")
    texts = _doc_texts(rng)
    langs = np.array(LANGS, dtype=object)[rng.choice(5, N_DOCS, p=LANG_P)]
    sources = np.array([f"src{i}" for i in range(20)], dtype=object)[rng.integers(0, 20, N_DOCS)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(seed: int) -> pa.Table:
    """Unit-norm 64-d vectors drawn uniformly, as in the fixture, plus 2%
    planted near-copies of earlier vectors for the embedding-dedup keys."""
    rng = _rng(seed, "embeddings")
    label = rng.integers(0, 10, N_VECS).astype(np.int32)
    vec = rng.normal(0.0, 1.0, (N_VECS, EMB_DIM))
    copies = np.flatnonzero(rng.random(N_VECS) < 0.02)
    copies = copies[copies > 0]
    src = (rng.random(len(copies)) * copies).astype(np.int64)
    vec[copies] = vec[src] + rng.normal(0.0, 0.05, (len(copies), EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMB_DIM).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label),
        }
    )


def tpch(seed: int) -> dict[str, pa.Table]:
    """Small star-schema tables. No benchmark key reads them; they exist so
    the oracle connection, which maps every fixture table, opens."""
    rng = _rng(seed, "tpch")
    n_cust, n_supp, n_part, n_ord, n_li = 150, 10, 200, 1_500, 6_000
    day_us = 86_400 * 1_000_000
    d0 = 788_918_400 * 1_000_000  # 1995-01-01

    def money(n: int, lo: float, hi: float) -> pa.Array:
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    def pick(options: list[str], n: int) -> pa.Array:
        return pa.array(np.array(options, dtype=object)[rng.integers(0, len(options), n)])

    def days(n: int) -> pa.Array:
        return pa.array(d0 + rng.integers(0, 2_400, n) * day_us, type=pa.timestamp("us"))

    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": money(n_cust, -999.0, 9999.0),
                "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": money(n_supp, -999.0, 9999.0),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pick(["large ring", "hot bolt", "small nut", "cold gear"], n_part),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                "p_retailprice": money(n_part, 900.0, 2000.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": money(n_ord, 1_000.0, 400_000.0),
                "o_orderdate": days(n_ord),
                "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": money(n_li, 900.0, 100_000.0),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pick(["A", "N", "R"], n_li),
                "l_linestatus": pick(["F", "O"], n_li),
                "l_shipdate": days(n_li),
            }
        ),
    }


def write_jobs_jsonl(seed: int, n_jobs: int, path: str) -> None:
    """Job-history records in the shape ``job_summary_report_at`` reads."""
    rng = _rng(seed, "jobs")
    submit = 1_704_067_200 + rng.integers(0, 30 * 86_400, n_jobs)
    fw = rng.integers(0, len(FRAMEWORKS), n_jobs)
    st = rng.choice(3, n_jobs, p=[0.8, 0.1, 0.1])
    user = rng.integers(0, 8, n_jobs)
    dur = rng.integers(1_000, 7_200_000, n_jobs)
    maps = rng.integers(1, 500, n_jobs)
    reds = rng.integers(0, 64, n_jobs)
    counters = rng.integers(0, 10**9, (n_jobs, len(COUNTER_KEYS)))
    with open(path, "w") as f:
        for i in range(n_jobs):
            s = int(submit[i])
            rec = {
                "job_id": f"job_2024{i:07d}",
                "user": f"user{user[i]}",
                "framework": FRAMEWORKS[fw[i]],
                "status": STATUSES[st[i]],
                "submit_ts": f"2024-01-{1 + (s - 1_704_067_200) // 86_400:02d}T"
                f"{(s % 86_400) // 3_600:02d}:{(s % 3_600) // 60:02d}:{s % 60:02d}Z",
                "duration_ms": int(dur[i]),
                "map_tasks": int(maps[i]),
                "reduce_tasks": int(reds[i]),
                "counters": dict(zip(COUNTER_KEYS, map(int, counters[i]))),
            }
            f.write(json.dumps(rec, sort_keys=True) + "\n")


def generate(out_dir: str, seed: int) -> None:
    """Write every table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"events": events(seed), "documents": documents(seed), "embeddings": embeddings(seed)}
    tables |= tpch(seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
