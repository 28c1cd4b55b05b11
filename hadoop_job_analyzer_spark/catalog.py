"""Table catalog: pinned loading of the driver-generated parquet tables.

Reference analog: the ingest layer of the reference tool (it harvested
job metadata from the JobTracker HTTP API; SURVEY.md §0.1 [R-M]). Here
ingest is columnar parquet scans — Spark's vectorized reader with
predicate pushdown and column pruning supplied by Catalyst.

The one genuine ingest gap Spark does not handle natively: events.ts
has shipped as parquet timestamp[ns] in some fixture generations (with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long of
epoch-nanoseconds, converted by INTEGER division to microseconds —
float division corrupts the low bits, SURVEY.md §0.2) and as
timestamp[us] in others (arrives TIMESTAMP_NTZ, cast to session-TZ
timestamp). ``load_table`` branches on the observed dtype so a fixture
regeneration can never crash every events consumer again (round-2
post-mortem, VERDICT r2 #1).

Schema memo. ``spark.read.parquet`` without a schema runs a one-task
Spark job to read a footer, on every call — on short reports that job
is a large part of the query. ``load_table`` therefore infers each
file's schema once and later reads it with ``spark.read.schema(memo)``.
The memo key is the file's real path, size and ``st_mtime_ns`` plus the
session confs that change how Parquet types are inferred
(``_INFERENCE_CONFS``), so a regenerated fixture or a flipped conf is
inferred again by Spark itself, which stays the authority on the type.
A directory, a path given as a URI (``scheme://``) or a failed
``stat`` bypasses the memo and infers as before. A schema'd read of a table still hits a cache
made from the inferred read (the plan shows ``InMemoryRelation``).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Stable column order per table (SURVEY.md §1.2, verified schemas).
COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Session confs that change the schema Spark infers from a Parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# (real path, size, st_mtime_ns, inference confs) -> the schema Spark
# inferred for that file version. Entries are a few hundred bytes; one
# per file version read by this process. Process-wide on purpose: an
# entry describes a file's bytes under given confs, so it is right for
# every session and caller that reads that file version.
_SCHEMA_MEMO: dict[tuple, StructType] = {}


def _memo_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of a local regular file, or None to bypass the memo."""
    if "://" in path:
        return None
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    return (real, st.st_size, st.st_mtime_ns, confs)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with stable column order; events gets the ns→µs recipe."""
    if name not in COLUMNS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    key = _memo_key(spark, path)
    memo = _SCHEMA_MEMO.get(key)
    if memo is not None:
        df = spark.read.schema(memo).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
    if name == "events":
        # The fixture has shipped ts as either timestamp[ns] (arrives as a
        # long of epoch-ns under nanosAsLong) or timestamp[us] (arrives as
        # TIMESTAMP_NTZ). Normalize both to session-TZ TIMESTAMP; dtype
        # branch so a fixture regeneration can't crash every consumer.
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type in ("bigint", "long"):
            # Integer-divide ns→µs: float division corrupts the low bits
            # (epoch-ns exceeds double's 53-bit exact range).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type.startswith("timestamp_ntz"):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.select(*COLUMNS[name])
