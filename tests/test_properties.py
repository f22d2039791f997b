"""Property-based tests (SURVEY.md section 5 item 4): JSON round-trip on
the nested course schema and calendar-aggregate invariance under input
row order (guards the nondeterminism the reference had via thread
completion order, etl_pipeline.py:39-41)."""

from __future__ import annotations

import json
import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_upc_syllabus_spark.pipeline import assemble
from etl_upc_syllabus_spark.pipeline.schema import PARSED_COURSE_SCHEMA

# text without control chars / surrogates that JSON+Arrow round-trip cleanly
txt = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), min_size=0, max_size=20
)

unit_st = st.fixed_dictionaries(
    {
        "number": st.integers(1, 20),
        "title": txt,
        "achievement": txt,
        "initial_week": st.integers(1, 8),
        "last_week": st.integers(9, 16),
        "syllabus": st.lists(txt, max_size=3),
        "activities": st.lists(txt, max_size=3),
        "exams": st.lists(txt, max_size=2),
        "bibliography": st.lists(txt, max_size=2),
    }
)

assessment_st = st.fixed_dictionaries(
    {
        "name": txt,
        "abrev": txt,
        "weight": st.floats(0, 100, allow_nan=False).map(lambda x: round(x, 2)),
        "week": st.integers(1, 16),
        "is_recoverable": st.booleans(),
    }
)

course_st = st.fixed_dictionaries(
    {
        "id": st.from_regex(r"[A-Z0-9]{8}", fullmatch=True),
        "name": txt,
        "period": st.sampled_from(["2025-1", "2025-2", "2026-1"]),
        "faculty": st.lists(txt, max_size=3),
        "credits": st.integers(0, 10),
        "weeks": st.just(16),
        "area": st.lists(txt, max_size=2),
        "nrc": st.from_regex(r"\d{4}", fullmatch=True),
        "units": st.lists(unit_st, max_size=2),
        "assessments": st.lists(assessment_st, max_size=3),
        "error": st.none(),
    }
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(course_st, min_size=1, max_size=4))
def test_json_roundtrip_course_schema(spark, courses):
    """to_json(from spark rows) -> from_json -> identical rows."""
    df = spark.createDataFrame(courses, PARSED_COURSE_SCHEMA)
    as_json = df.select(F.to_json(F.struct(*df.columns)).alias("j"))
    back = as_json.select(
        F.from_json("j", PARSED_COURSE_SCHEMA).alias("c")
    ).select("c.*")
    a = sorted(df.toJSON().collect())
    b = sorted(back.toJSON().collect())
    assert [json.loads(x) for x in a] == [json.loads(x) for x in b]


def test_calendar_invariant_under_row_order(spark):
    """A3 determinism: the calendar aggregate is identical for any
    permutation of the input courses."""
    base = [
        {
            "id": f"C{i:07d}", "name": f"course {i}", "period": "2025-2",
            "faculty": [], "credits": 3, "weeks": 16, "area": [], "nrc": f"{1000+i}",
            "units": [],
            "assessments": [
                {"name": f"EX{i}-{j}", "abrev": str(j), "weight": 10.0 * j,
                 "week": (i + j) % 16 + 1, "is_recoverable": False}
                for j in range(1, 4)
            ],
            "error": None,
        }
        for i in range(20)
    ]
    results = []
    for seed in (0, 1, 2):
        shuffled = base[:]
        random.Random(seed).shuffle(shuffled)
        df = spark.createDataFrame(shuffled, PARSED_COURSE_SCHEMA).drop("error")
        cal = assemble.weekly_calendar(df)
        results.append([(r["week"], tuple(r["lines"])) for r in cal.collect()])
    assert results[0] == results[1] == results[2]


# ---- session-operator properties (hypothesis) ---------------------------


from hypothesis import example, given, settings
from hypothesis import strategies as st


@st.composite
def _event_offsets(draw):
    # up to 3 users plus NULL, up to 12 events at second offsets; ties allowed
    n = draw(st.integers(1, 12))
    users = draw(st.lists(st.sampled_from([None, 1, 2, 3]), min_size=n, max_size=n))
    offs = draw(st.lists(st.integers(0, 5000), min_size=n, max_size=n))
    return list(zip(range(1, n + 1), users, offs))


def _py_debounce(rows, gap_us):
    """Reference implementation: per-user sequential keep-if-gap scan."""
    kept = set()
    byuser: dict = {}
    for eid, uid, off in rows:
        byuser.setdefault(uid, []).append((off * 1_000_000, eid))
    for uid, evs in byuser.items():
        last = None
        for t, eid in sorted(evs):
            if last is None or t - last > gap_us:
                kept.add(eid)
                last = t
    return kept


@settings(max_examples=15, deadline=None)
@given(_event_offsets(), st.integers(1, 600))
# a NULL-user run and a user-1 run, each spanning two 2-row Arrow
# batches: a reset at the batch boundary would keep 120 and drop 200
@example(
    [(1, None, 0), (2, None, 100), (3, None, 120), (4, None, 200),
     (5, 1, 0), (6, 1, 100), (7, 1, 120), (8, 1, 200)],
    150,
)
def test_debounce_matches_python_reference(spark, rows, gap_s):
    """Run at 2-row Arrow batches so user runs (NULL users included)
    continue across batches and the scan's key/state carry is hit."""
    import datetime as dt

    from etl_upc_syllabus_spark.operators.sessions import debounce

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(eid, t0 + dt.timedelta(seconds=off), uid) for eid, uid, off in rows],
        "event_id long, ts timestamp, user_id long",
    )
    gap_us = gap_s * 1_000_000
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = {r["event_id"] for r in debounce(df, gap_us=gap_us).collect()}
    finally:
        spark.conf.set(key, saved)
    assert got == _py_debounce(rows, gap_us)


@settings(max_examples=10, deadline=None)
@given(_event_offsets())
def test_sessionize_invariants(spark, rows):
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_upc_syllabus_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(eid, t0 + dt.timedelta(seconds=off), uid) for eid, uid, off in rows],
        "event_id long, ts timestamp, user_id long",
    )
    out = sessionize(df, gap_us=300 * 1_000_000).collect()
    assert len(out) == len(rows)  # sessionize never drops or duplicates rows
    by_user: dict = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append((r["ts_us"], r["event_id"], r["session_id"]))
    for evs in by_user.values():
        sids = [s for _, _, s in sorted(evs)]
        # session ids start at 1, are monotone non-decreasing in time
        # order, and never jump by more than 1
        assert sids[0] == 1
        assert all(b - a in (0, 1) for a, b in zip(sids, sids[1:]))


def test_ewma_constant_series_converges_to_kernel_mass(spark):
    """EWMA of a constant series equals the constant times the
    cumulative kernel mass: y * sum(w_j, j<=t) during warmup and
    y * (1 - 0.7^10) once all 10 taps are filled."""
    from etl_upc_syllabus_spark.plans.stats_queries import _ewma_expr

    rows = [("a", f"2024-01-{d:02d}", 10.0) for d in range(1, 15)]
    df = spark.createDataFrame(rows, ["event_type", "day", "y"])
    out = {
        r["day"]: r["e"]
        for r in df.selectExpr("event_type", "day", "y", f"round({_ewma_expr()}, 6) AS e").collect()
    }
    mass = 0.0
    for t, d in enumerate(sorted(out)):
        if t < 10:
            mass += 0.3 * 0.7**t
        expected = round(10.0 * (mass if t >= 9 else sum(0.3 * 0.7**j for j in range(t + 1))), 6)
        assert abs(out[d] - expected) < 1e-6, (d, out[d], expected)
