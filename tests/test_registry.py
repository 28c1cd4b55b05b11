"""Registry contract guards (SURVEY.md §2 + driver sampling).

Two structural properties the rest of the test suite assumes:

1. SURVEY.md §2's declared key inventory == ``registry.queries()`` ==
   ``__spark_entry__.queries()`` — the binding coverage contract, both
   directions.
2. The driver's correctness gate samples the FIRST 50 registration keys.
   Rounds 1-3 only ever sampled 52 distinct keys (scans/filters/joins +
   12 aggs); round 4 rotated ``registry._OP_MODULES`` so the 50-key
   window lands entirely on previously-unsampled surface. This test pins
   that rotation so a refactor can't silently undo it.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _survey_keys() -> set[str]:
    text = (REPO / "SURVEY.md").read_text()
    start = text.index("## 2. Operator inventory")
    end = text.index("## 3. Query lifecycle")
    body = text[start:end]
    # Keys appear as the first cell of inventory table rows: | `key` | ...
    return set(re.findall(r"^\| `([a-z0-9_]+)` \|", body, flags=re.M))


def test_survey_matches_registry_both_directions():
    from hadoop_job_analyzer_spark import registry

    reg = set(registry.queries())
    survey = _survey_keys()
    assert survey - reg == set(), f"SURVEY declares unimplemented keys: {sorted(survey - reg)}"
    assert reg - survey == set(), f"registry keys missing from SURVEY §2: {sorted(reg - survey)}"


def test_entry_module_reexports_registry():
    import __spark_entry__ as entry

    from hadoop_job_analyzer_spark import registry

    assert set(entry.queries()) == set(registry.queries())
    assert set(entry.oracle_sql()) == set(registry.oracle_sql())


def test_oracle_keys_subset_of_queries():
    from hadoop_job_analyzer_spark import registry

    assert set(registry.oracle_sql()) <= set(registry.queries())


def _check_rotation_window(window, rotation_round, reshaped, *,
                           full_order, leads_queries):
    """Shared body of the per-round rotation-policy tests (r13
    self-review: the per-round tests had grown into ~45-line
    near-copies, each hand-edited when the next rotation landed).

    Recomputes STALEST EVIDENCE FIRST with rule-2 displacement from the
    same CORRECTNESS files scripts/hash_ledger.py reads, so a window
    cannot silently drift from the evidence that justifies it:

    - `rotation_round` N: evidence is CORRECTNESS_r01..r(N-1);
    - `reshaped`: round-N rule-2 head keys, each displacing the
      freshest tail entry of the stalest-50;
    - `full_order`: assert the FULL ORDERED tuple (advisor r11 — the
      driver samples queries() in insertion order) vs set equality
      (the pre-r12 frozen-history tests);
    - `leads_queries`: assert the window leads queries() — true ONLY
      for the active window (exactly one caller passes it).

    Tie-break on RAW registration order (_QUERIES insertion), never the
    window-reordered queries() view — using the latter is circular:
    putting a key in the window would promote it in the very order that
    decides whether it belongs there.
    """
    from hadoop_job_analyzer_spark import registry

    last_hash: dict[str, int] = {}
    for rnd in range(1, rotation_round):
        path = REPO / f"CORRECTNESS_r{rnd:02d}.json"
        if not path.exists():
            continue
        for key, rec in json.loads(path.read_text()).items():
            if isinstance(rec, dict) and rec.get("hash_match"):
                last_hash[key] = rnd
    assert last_hash, "historic CORRECTNESS files missing — cannot check rotation"
    assert len(window) == 50 and len(set(window)) == 50
    if leads_queries:
        first = list(registry.queries())[: len(window)]
        assert tuple(first) == window, (
            "window keys must LEAD queries() in pinned order"
        )
    all_keys = set(registry.queries())
    assert set(last_hash) >= all_keys, (
        f"coverage regressed below 293/293: {sorted(all_keys - set(last_hash))[:5]}"
    )
    registry._load_all()
    reg_order = {k: i for i, k in enumerate(registry._QUERIES)}
    by_age = sorted(all_keys, key=lambda k: (last_hash[k], reg_order[k]))
    stalest = by_age[:50]
    for key in reshaped:
        assert key not in stalest
        stalest = stalest[:-1]  # each reshape displaces the freshest tail entry
    expected = tuple(list(reshaped) + stalest)
    if full_order:
        assert window == expected, (
            f"window is not the stalest 50 in derivation order; "
            f"first divergence at index "
            f"{next((i for i, (a, b) in enumerate(zip(window, expected)) if a != b), len(window))}: "
            f"window={window[:5]}... expected={expected[:5]}..."
        )
    else:
        assert set(window) == set(expected), (
            f"window is not the rule-2-adjusted stalest 50; "
            f"missing={sorted(set(expected) - set(window))} "
            f"extra={sorted(set(window) - set(expected))}"
        )


def test_first_50_registration_keys_follow_rotation_policy():
    """Round-10 rotation (frozen history; derivation only — the
    leads-queries assertion lives with the ACTIVE window's test).
    Rule-2 head: the four keys reshaped in r10 (win_sessionize, also
    reshaped, was already stale-listed)."""
    from hadoop_job_analyzer_spark import registry

    _check_rotation_window(
        registry._R10_WINDOW,
        rotation_round=10,
        reshaped=[
            "text_fingerprint",
            "agg_session_bounce_rate",
            "text_casing_profile",
            "agg_weighted_median",
        ],
        full_order=False,
        leads_queries=False,
    )


def test_r11_window_follows_rotation_policy():
    """Round-11 rotation (frozen history; derivation only). Rule-2
    head: `agg_session_bounce_rate` (fused-long bucket-chain plan) and
    `join_star_multiway` (SHJ + single-key agg), both reshaped in
    r11."""
    from hadoop_job_analyzer_spark import registry

    _check_rotation_window(
        registry._R11_WINDOW,
        rotation_round=11,
        reshaped=["agg_session_bounce_rate", "join_star_multiway"],
        full_order=False,
        leads_queries=False,
    )


def test_r12_window_follows_rotation_policy():
    """Round-12 rotation (frozen history; full ordered tuple since
    r12, per advisor r11). Rule-2 head: `text_wordcount`
    (collapse-identical-texts plan), reshaped in r12."""
    from hadoop_job_analyzer_spark import registry

    _check_rotation_window(
        registry._R12_WINDOW,
        rotation_round=12,
        reshaped=["text_wordcount"],
        full_order=True,
        leads_queries=False,
    )


def test_r13_window_follows_rotation_policy():
    """Round-13 rotation (frozen history; derivation only). No key was
    reshaped at round-13 open, so there is no rule-2 head and the
    window is the pure stalest-50 (the 49 remaining r7-hashed keys plus
    the stalest r8 key) — exactly the round-12 pre-commit."""
    from hadoop_job_analyzer_spark import registry

    _check_rotation_window(
        registry._R13_WINDOW,
        rotation_round=13,
        reshaped=[],
        full_order=True,
        leads_queries=False,
    )


def test_r14_window_follows_rotation_policy():
    """Round-14 rotation (frozen history; derivation only — it landed
    50/50 in CORRECTNESS_r14). No key was reshaped at round-14 open, so
    there is no rule-2 head and the window is the pure stalest-50 (the
    46 remaining r8-hashed keys plus the 4 stalest r9 keys) — exactly
    the round-13 pre-commit."""
    from hadoop_job_analyzer_spark import registry

    _check_rotation_window(
        registry._R14_WINDOW,
        rotation_round=14,
        reshaped=[],
        full_order=True,
        leads_queries=False,
    )


def test_r15_window_follows_rotation_policy():
    """Round-15 rotation (frozen history; derivation only — it landed
    50/50 in CORRECTNESS_r15). No key was reshaped at round-15 open, so
    there is no rule-2 head and the window is the pure stalest-50 (the
    45 remaining r9-hashed keys plus the 5 stalest r10 keys) — exactly
    the round-14 pre-commit."""
    from hadoop_job_analyzer_spark import registry

    _check_rotation_window(
        registry._R15_WINDOW,
        rotation_round=15,
        reshaped=[],
        full_order=True,
        leads_queries=False,
    )


def test_r16_window_follows_rotation_policy():
    """Round-16 rotation — the ACTIVE window, so it must also LEAD
    queries() (the driver hard-verifies the first 50 keys). No key was
    reshaped at round-16 open, so there is no rule-2 head and the
    window is the pure stalest-50 (the 43 remaining r10-hashed keys
    plus the 7 stalest r11 keys) — exactly the round-15 pre-commit."""
    from hadoop_job_analyzer_spark import registry

    _check_rotation_window(
        registry._R16_WINDOW,
        rotation_round=16,
        reshaped=[],
        full_order=True,
        leads_queries=True,
    )


def test_r7_r8_windows_partition_never_sampled_remainder():
    """_R7_WINDOW + _R8_WINDOW must exactly cover (and not overlap) the
    keys never sampled in CORRECTNESS_r01-r06 — the pre-committed schedule
    that reaches 290/290 driver-hash coverage in round 8."""
    from hadoop_job_analyzer_spark import registry

    sampled: set[str] = set()
    for rnd in (1, 2, 3, 4, 5, 6):
        path = REPO / f"CORRECTNESS_r0{rnd}.json"
        if path.exists():
            sampled |= set(json.loads(path.read_text()))
    assert sampled, "historic CORRECTNESS files missing"
    never = set(registry.queries()) - sampled
    # Keys whose semantics were reshaped in r7 AFTER their driver hash pass:
    # their recorded pass predates the reshape, so they re-enter the r8
    # window (policy rule 2) even though CORRECTNESS files list them.
    reshaped_r7 = {"text_edit_distance_join"}
    # The salted twins registered in r8 are inside _R8_WINDOW (policy
    # rule 2) and, being new, are part of the never-sampled remainder.
    r7, r8 = set(registry._R7_WINDOW), set(registry._R8_WINDOW)
    assert len(registry._R7_WINDOW) == 50 and len(r7) == 50
    assert len(registry._R8_WINDOW) == len(r8)
    assert r7 & r8 == set(), f"windows overlap: {sorted(r7 & r8)}"
    assert r7 | r8 == never | reshaped_r7, (
        f"windows don't partition the remainder; "
        f"missing={sorted((never | reshaped_r7) - (r7 | r8))} "
        f"extra={sorted((r7 | r8) - (never | reshaped_r7))}"
    )


def test_window_order_matches_pinned_list():
    """queries() and oracle_sql() must present the pinned window first and
    agree on ordering — the driver samples queries()'s insertion order."""
    from hadoop_job_analyzer_spark import registry

    qkeys = list(registry.queries())
    win = registry._R16_WINDOW
    assert tuple(qkeys[: len(win)]) == win
    okeys = [k for k in registry.oracle_sql() if k in set(win)]
    assert okeys == [k for k in win if k in set(okeys)]


def test_udf_keys_survive_foreign_cwd(sf_dir):
    """Regression (r7): worker Pythons must import the package even when
    the driver's cwd is NOT the repo root. UDF/UDTF closures pickle
    module references, so without `session._ship_package`'s addPyFile
    zip the worker dies with ModuleNotFoundError (observed live when the
    verify sweep ran from /tmp). This is also the real-cluster contract:
    executors never have the repo checkout on their sys.path.

    Runs a fresh driver subprocess from /tmp with PYTHONPATH scrubbed of
    the repo (driver-side import goes through __spark_entry__'s own
    sys.path insert), executing the keys whose UDF closures demonstrably
    pickle module references (verified: with `_ship_package` stashed,
    each dies with ModuleNotFoundError in the worker; udf_python_scalar
    by contrast is a self-contained closure and passes either way).
    """
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prog = (
        "import sys; sys.path.insert(0, %r); "
        "import __spark_entry__ as e; "
        "from hadoop_job_analyzer_spark.session import get_spark; "
        "spark = get_spark('cwd-independence-probe', master='local[2]'); "
        "q = e.queries(); "
        "assert q['udf_sql_registered'](spark, %r).count() > 0; "
        "assert q['mm_decode_meta'](spark, %r).count() > 0; "
        "assert q['scan_custom_datasource'](spark, %r).count() > 0; "
        "print('CWD_INDEPENDENT_OK')" % (repo, sf_dir, sf_dir, sf_dir)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", prog],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0 and "CWD_INDEPENDENT_OK" in out.stdout, (
        out.stdout[-2000:],
        out.stderr[-4000:],
    )


def test_operator_modules_import_standalone():
    """Direct imports must not depend on the registry's module load
    order (r11 trap: `from operators.quality import <twin>` in a fresh
    process died with KeyError text_zipf_fit, because corpus composes
    textops' registered oracle SQL at import time and nothing had
    loaded textops). One fresh subprocess imports the cross-referencing
    modules directly — quality (→corpus→textops), neardup (→llm) — with
    no registry bootstrap."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, {root!r}); "
        "import hadoop_job_analyzer_spark.operators.quality; "
        "import hadoop_job_analyzer_spark.operators.neardup; "
        "import hadoop_job_analyzer_spark.operators.corpus; "
        "print('ok')"
    ).format(root=str(REPO))
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert r.returncode == 0 and "ok" in r.stdout, r.stderr[-2000:]


def test_failed_package_ship_warns_once_per_application(spark, monkeypatch):
    """A failed addPyFile must not pass in silence: one RuntimeWarning per
    application names the exception, and later queries do not repeat it."""
    import warnings

    from hadoop_job_analyzer_spark import session

    def refuse(path):
        raise OSError("ship refused")

    monkeypatch.setattr(session, "_PKG_SHIPPED", set())
    monkeypatch.setattr(spark.sparkContext, "addPyFile", refuse)
    with pytest.warns(RuntimeWarning, match="ship refused"):
        session.apply_session_conf(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session.apply_session_conf(spark)
