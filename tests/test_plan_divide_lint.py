"""Spark-side divide lint (round 10 — completes r9 verdict item 3).

The oracle-side lint (test_divide_lint.py) pins division sites in the
ORACLE SQL; 5 of the 7 r9 engine-splits lived on the OTHER side — the
engine's own expression divided by zero under ANSI where DuckDB
yielded NULL.  This test pins the Spark side: every registered
non-streaming query's ANALYZED Catalyst plan is scanned with
``lint.plan_needs_review_sites`` and the per-query counts must equal
``tests/plan_divide_allowlist.json`` exactly.  Count drift in either
direction forces a conscious review: an increase means a new
unguarded division landed; a decrease means guards changed and the
allowlist must be re-recorded (the oracle lint's pinned-count model).

The full scan builds ~370 plans (~5 min), so it is env-gated:

    SPARK_GRAFT_PLANLINT=1 python -m pytest tests/test_plan_divide_lint.py -q

The heuristic itself is pinned by ungated pure-string tests below —
no Spark session needed.
"""

from __future__ import annotations

import json
import os

import pytest

from anomaly_detection_spark.lint import plan_needs_review_sites

_ALLOWLIST = os.path.join(os.path.dirname(__file__),
                          "plan_divide_allowlist.json")


def test_plan_scanner_flags_unguarded_division():
    plan = ("Aggregate [etype#3], [etype#3, "
            "(sum(v#1) / count(v#1)) AS mean#9]")
    assert len(plan_needs_review_sites(plan)) == 1


def test_plan_scanner_passes_guard_literal_and_nullif():
    plan = (
        "Project [CASE WHEN (n#2 > 0) THEN (s#1 / n#2) END AS r#5, "
        "(x#3 / 100.0) AS pct#6, "
        "(y#4 / nullif(d#7, 0)) AS q#8, "
        "(z#9 / greatest(c#10, 1)) AS w#11, "
        "(u#12 / cast(2 as double)) AS h#13]"
    )
    assert plan_needs_review_sites(plan) == []


def test_plan_scanner_guard_window_is_bounded():
    # a guard 300+ chars upstream must NOT vouch for a distant site
    pad = "x#1, " * 80  # > 300 chars of unrelated projection list
    plan = f"Project [CASE WHEN (n#2 > 0) THEN a#3 END AS g#4, {pad}(s#5 / n#2) AS r#6]"
    assert len(plan_needs_review_sites(plan)) == 1


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_PLANLINT") != "1",
    reason="full plan scan is slow; set SPARK_GRAFT_PLANLINT=1",
)
def test_registry_plan_division_counts_match_allowlist(spark):
    from anomaly_detection_spark import queries as reg

    with open(_ALLOWLIST) as f:
        allow = json.load(f)["counts"]
    sf = "/root/testdata/sf0.001"
    got: dict[str, int] = {}
    for name, fn in reg.QUERIES.items():
        if name.startswith("streaming_"):
            continue
        plan = fn(spark, sf)._jdf.queryExecution().analyzed().toString()
        n = len(plan_needs_review_sites(plan))
        if n:
            got[name] = n
    if os.environ.get("SPARK_GRAFT_PLANLINT_RECORD") == "1":
        # conscious re-record after a reviewed guard/plan change:
        # rewrite the counts in place, keep the _comment block, and
        # still FAIL so the run can't silently double as a green gate
        with open(_ALLOWLIST) as f:
            doc = json.load(f)
        doc["counts"] = got
        with open(_ALLOWLIST, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        pytest.fail(
            f"allowlist re-recorded with {len(got)} entries — review "
            "the diff, then re-run without RECORD to gate"
        )
    extra = {n: c for n, c in got.items() if n not in allow}
    grew = {n: (allow[n], c) for n, c in got.items()
            if n in allow and c > allow[n]}
    shrank = {n: (allow[n], got.get(n, 0)) for n in allow
              if got.get(n, 0) < allow[n]}
    assert not extra, (
        f"NEW queries with unreviewed division sites: {extra} — guard "
        "them (F.when(den > 0, ...)) or review into the allowlist"
    )
    assert not grew, (
        f"division-site counts GREW (new unguarded sites): {grew}"
    )
    assert not shrank, (
        f"counts shrank (guards changed) — re-record the allowlist: "
        f"{shrank}"
    )
