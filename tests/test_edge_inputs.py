"""Operators against their DuckDB oracles on inputs the fixtures never
produce.

Each test writes a small table into ``tmp_path`` and symlinks the other
tables of the test fixture dir next to it, because
``oracle_check.duck_connect`` binds a view for every table.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from hadoop_job_analyzer_spark.catalog import TABLES, table_path
from hadoop_job_analyzer_spark.oracle_check import compare
from hadoop_job_analyzer_spark.registry import oracle_sql, queries


def _sf_with_events(tmp_path, base_sf: str, events: list[tuple]) -> str:
    """An sf dir whose events table is ``events`` ((user_id, event_type,
    minute offset or None) rows) and whose other tables are ``base_sf``'s."""
    sf = str(tmp_path)
    for t in TABLES:
        if t != "events":
            os.symlink(table_path(base_sf, t), table_path(sf, t))
    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(events)), pa.int64()),
                "ts": pa.array(
                    [None if m is None else t0 + dt.timedelta(minutes=m) for _, _, m in events],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for u, _, _ in events], pa.int64()),
                "event_type": pa.array([e for _, e, _ in events]),
                "value": pa.array([1.0] * len(events)),
                "props": pa.array(["{}"] * len(events)),
            }
        ),
        table_path(sf, "events"),
    )
    return sf


# (user_id, event_type, minute offset); None is a NULL ts / user_id.
FUNNEL_EVENTS = [
    # 1: a view before the first click, nothing after it -> click only
    (1, "view", 0), (1, "click", 5),
    # 2: a purchase before the first qualifying view -> click, view
    (2, "click", 0), (2, "purchase", 1), (2, "view", 2),
    # 3: a view at the same instant as the click -> click only
    (3, "click", 5), (3, "view", 5), (3, "purchase", 6),
    # 4: a purchase at the same instant as the view -> click, view
    (4, "click", 0), (4, "view", 1), (4, "purchase", 1),
    # 5: the full funnel with other event types mixed in
    (5, "signup", 0), (5, "click", 1), (5, "error", 2), (5, "view", 3), (5, "purchase", 4),
    # 6: only a NULL-ts click -> counts as a click, never converts
    (6, "click", None), (6, "view", 1), (6, "purchase", 2),
    # 7: no click stage at all
    (7, "view", 1), (7, "purchase", 2),
    # 8: the view falls between two clicks; the first click counts
    (8, "click", 5), (8, "click", 1), (8, "view", 3), (8, "purchase", 4),
    # 9: a NULL-ts click beside a real one
    (9, "click", None), (9, "click", 0), (9, "view", 1), (9, "purchase", 2),
    # 10: a purchase only
    (10, "purchase", 3),
    # 11: purchases on both sides of the first qualifying view
    (11, "click", 0), (11, "purchase", 1), (11, "view", 2), (11, "purchase", 3),
    # 12: a NULL-ts view beside a real one
    (12, "click", 0), (12, "view", None), (12, "view", 2), (12, "purchase", 3),
    # 13: other event types only
    (13, "signup", 0), (13, "error", 1),
    # NULL user: one click group, but it joins no later stage
    (None, "click", 0), (None, "view", 1), (None, "purchase", 2),
]


def test_funnel_stages_keeps_event_order(spark, sf_dir, tmp_path):
    """Every fixture gives equal stage counts (150/150/150 at sf0.01), so
    the oracle sweep cannot tell an order-blind funnel from a correct one;
    this input can."""
    sf = _sf_with_events(tmp_path, sf_dir, FUNNEL_EVENTS)
    df = queries()["funnel_stages"](spark, sf)
    compare(df, oracle_sql()["funnel_stages"], sf, "funnel_stages")
    row = df.collect()[0]
    assert (row.n_click, row.n_click_view, row.n_click_view_purchase) == (11, 7, 5)
