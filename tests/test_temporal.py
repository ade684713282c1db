"""Tests for operators/temporal.py: as-of join and bucketed range join.

Covers the semantics the oracle can't isolate: tolerance nulling,
inclusive at-or-before matching, tie-breaks, and bucket-boundary edges
(events exactly at +/-radius, and just beyond).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dgraph_dbpedia_spark.operators.temporal import asof_join, range_count_join


def _asof(spark, left_rows, right_rows, **kw):
    left = spark.createDataFrame(left_rows, ["event_id", "k", "ts"])
    right = spark.createDataFrame(right_rows, ["m_id", "k", "val", "ts"])
    kw.setdefault("keys", ["k"])
    kw.setdefault("ts_col", "ts")
    kw.setdefault("payload_cols", ["m_id", "val"])
    out = asof_join(left, right, **kw)
    return {
        r["event_id"]: (r["matched_m_id"], r["matched_val"], r["matched_lag"])
        for r in out.collect()
    }


def test_asof_backward_inclusive_and_no_match(spark):
    got = _asof(
        spark,
        [(1, "a", 100), (2, "a", 50), (3, "a", 10)],
        [(10, "a", 1.0, 50), (11, "a", 2.0, 90)],
    )
    # ts=100: latest right at 90; ts=50: right AT 50 (inclusive);
    # ts=10: nothing at-or-before -> nulls
    assert got[1] == (11, 2.0, 10)
    assert got[2] == (10, 1.0, 0)
    assert got[3] == (None, None, None)


def test_asof_keys_partition_matches(spark):
    got = _asof(
        spark,
        [(1, "a", 100), (2, "b", 100)],
        [(10, "a", 1.0, 40), (11, "b", 2.0, 70)],
    )
    assert got[1] == (10, 1.0, 60)
    assert got[2] == (11, 2.0, 30)


def test_asof_tolerance_nulls_stale_matches(spark):
    got = _asof(
        spark,
        [(1, "a", 100), (2, "a", 100)],
        [(10, "a", 1.0, 10)],
        tolerance=90,  # lag is exactly 90 -> kept (>= ts - tolerance)
    )
    assert got[1] == (10, 1.0, 90)
    got = _asof(
        spark,
        [(1, "a", 100)],
        [(10, "a", 1.0, 9)],
        tolerance=90,  # lag 91 -> stale, nulled
    )
    assert got[1] == (None, None, None)


def test_asof_tie_break_highest_order_col(spark):
    # two right rows at the same ts: the larger order_col (default:
    # first payload col) wins — both payload values come from THAT row
    got = _asof(
        spark,
        [(1, "a", 100)],
        [(10, "a", 1.0, 60), (12, "a", 3.0, 60), (11, "a", 2.0, 60)],
    )
    assert got[1] == (12, 3.0, 40)


def test_asof_null_payload_values_stay_with_their_row(spark):
    # the latest right row has a NULL val: per-column last() would leak
    # the older row's val; the struct encoding must keep the null
    got = _asof(
        spark,
        [(1, "a", 100)],
        [(10, "a", 5.0, 40), (11, "a", None, 60)],
    )
    assert got[1] == (11, None, 40)


def _range(spark, probe_rows, event_rows, radius):
    probe = spark.createDataFrame(probe_rows, ["event_id", "k", "ts"])
    events = spark.createDataFrame(event_rows, ["k", "ts"])
    out = range_count_join(probe, events, ["k"], "ts", radius)
    return {r["event_id"]: r["n_in_range"] for r in out.collect()}


def test_range_count_boundary_inclusive(spark):
    # events at exactly +/-radius count; radius+1 does not
    got = _range(
        spark,
        [(1, "a", 1000)],
        [("a", 900), ("a", 1100), ("a", 899), ("a", 1101), ("a", 1000)],
        radius=100,
    )
    assert got[1] == 3


def test_range_count_bucket_edges_and_zero_match(spark):
    # probe at a bucket boundary: in-range events land in the adjacent
    # bucket on either side and must still be found exactly once
    got = _range(
        spark,
        [(1, "a", 200), (2, "a", 5000), (3, "b", 200)],
        [("a", 101), ("a", 299), ("a", 200)],
        radius=100,
    )
    assert got[1] == 3  # 101 and 299 (adjacent buckets), plus 200 itself
    assert got[2] == 0  # zero-match probes kept with count 0
    assert got[3] == 0  # key mismatch never counts


def test_range_count_matches_brute_force(spark):
    # deterministic brute-force cross-check on a small grid
    probe_rows = [(i, "k%d" % (i % 3), i * 37 % 500) for i in range(40)]
    event_rows = [("k%d" % (j % 3), j * 53 % 500) for j in range(60)]
    radius = 40
    got = _range(spark, probe_rows, event_rows, radius)
    for pid, k, ts in probe_rows:
        want = sum(
            1 for ek, ets in event_rows if ek == k and abs(ets - ts) <= radius
        )
        assert got[pid] == want, (pid, k, ts)


def test_asof_plan_single_shuffle_no_join(spark):
    """The as-of encoding must stay a union + window: no join operator,
    one exchange on the keys (the 100 TB no-explosion guarantee)."""
    left = spark.createDataFrame([(1, "a", 100)], ["event_id", "k", "ts"])
    right = spark.createDataFrame([(10, "a", 1.0, 40)], ["m_id", "k", "val", "ts"])
    out = asof_join(left, right, ["k"], "ts", ["m_id", "val"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_join_null_keys_never_match(spark):
    """SQL equality semantics: NULL keys match nothing; null-key left
    rows still appear with a null payload."""
    from dgraph_dbpedia_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(None, 10), (1, 10)], "k int, ts long"
    )
    right = spark.createDataFrame(
        [(None, 5, "ghost"), (1, 5, "real")], "k int, ts long, v string"
    )
    out = {r["k"]: r["matched_v"] for r in
           asof_join(left, right, ["k"], "ts", payload_cols=["v"]).collect()}
    assert out == {None: None, 1: "real"}


def test_range_count_join_rejects_zero_radius(spark):
    from dgraph_dbpedia_spark.operators.temporal import range_count_join
    import pytest as _pytest

    probe = spark.createDataFrame([(1, 1, 100)], "event_id long, k int, ts long")
    with _pytest.raises(ValueError, match="radius"):
        range_count_join(probe, probe, ["k"], "ts", radius=0)


def test_resample_events_gap_fill_modes(spark):
    """Daily buckets: empty days between a key's first and last event
    appear explicitly; zero / forward / none fills behave as named;
    nothing emitted outside a key's own range; keys are independent."""
    from datetime import datetime

    from dgraph_dbpedia_spark.operators.temporal import resample_events

    d = lambda day, h=0: datetime(2024, 1, day, h)
    ev = spark.createDataFrame(
        [
            (1, d(1), 10.0),
            (1, d(1, 6), 5.0),   # day 1: two events
            (1, d(4), 2.5),      # days 2-3 are gaps
            (2, d(2), 7.0),      # single-day key: one bucket, no spine
        ],
        ["user_id", "ts", "value"],
    )
    zero = {
        (r["user_id"], r["bucket_start"]): (r["n_events"], r["sum_value"])
        for r in resample_events(ev, 86400).collect()
    }
    day1 = int(datetime(2024, 1, 1).timestamp())
    assert len(zero) == 5  # user1: days 1-4; user2: day 2
    assert zero[(1, day1)] == (2, 15.0)
    assert zero[(1, day1 + 86400)] == (0, 0.0)
    assert zero[(1, day1 + 3 * 86400)] == (1, 2.5)
    assert zero[(2, day1 + 86400)] == (1, 7.0)

    fwd = {
        (r["user_id"], r["bucket_start"]): r["sum_value"]
        for r in resample_events(ev, 86400, fill="forward").collect()
    }
    assert fwd[(1, day1 + 86400)] == 15.0  # carried from day 1
    assert fwd[(1, day1 + 2 * 86400)] == 15.0

    none = {
        (r["user_id"], r["bucket_start"]): r["sum_value"]
        for r in resample_events(ev, 86400, fill="none").collect()
    }
    assert none[(1, day1 + 86400)] is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="interval_sec"):
        resample_events(ev, 0)
    with _pytest.raises(ValueError, match="fill"):
        resample_events(ev, 86400, fill="interpolate")


def test_funnel_counts_strict_order(spark):
    """Step i anchors at the earliest qualifying event strictly after
    the step i-1 anchor: out-of-order completions don't count, repeat
    events do, empty steps report 0 (the row still appears), and the
    anchor frames carry release handles."""
    from datetime import datetime

    from dgraph_dbpedia_spark.operators.cachectl import (
        persisted_frames,
        release,
    )
    from dgraph_dbpedia_spark.operators.temporal import funnel_counts

    t = lambda m: datetime(2024, 1, 1, 0, m)
    ev = spark.createDataFrame(
        [
            # user 1 completes in order
            (1, t(0), "signup"), (1, t(1), "view"), (1, t(2), "purchase"),
            # user 2: view BEFORE signup, never views again -> depth 1
            (2, t(0), "view"), (2, t(1), "signup"),
            # user 3: signup then view; purchase is BEFORE the view
            (3, t(0), "purchase"), (3, t(1), "signup"), (3, t(2), "view"),
            # user 4: no signup at all
            (4, t(0), "view"), (4, t(1), "purchase"),
        ],
        ["user_id", "ts", "event_type"],
    )
    out = funnel_counts(ev, ["signup", "view", "purchase"])
    assert len(persisted_frames(out)) == 2  # last anchor: one consumer
    rows = {r["step"]: (r["step_name"], r["n_users"]) for r in out.collect()}
    release(out)
    assert rows == {
        1: ("signup", 3),   # users 1, 2, 3
        2: ("view", 2),     # users 1, 3
        3: ("purchase", 1), # user 1 only
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="steps"):
        funnel_counts(ev, [])


def test_retention_cohorts_matrix(spark):
    """Cohorts keyed by first-activity bucket; retention is the
    fraction active at each offset; offset 0 is always 1.0; a user's
    multiple events in one bucket count once."""
    from datetime import datetime

    from dgraph_dbpedia_spark.operators.temporal import retention_cohorts

    d = lambda day: datetime(2024, 1, day)
    week = 604800
    ev = spark.createDataFrame(
        [
            # cohort week 0: users 1, 2 (u1 twice in week 0 — counts once)
            (1, d(1)), (1, d(2)), (2, d(3)),
            (1, d(8)),            # u1 active week 1
            (1, d(15)), (2, d(16)),  # both active week 2
            # cohort week 1: user 3
            (3, d(9)),
        ],
        ["user_id", "ts"],
    )
    rows = {
        (r["cohort_start"], r["offset"]): (r["n_users"], r["retention"])
        for r in retention_cohorts(ev, week).collect()
    }
    w0 = int(datetime(2024, 1, 1).timestamp()) // week * week
    w1 = w0 + week
    assert rows[(w0, 0)] == (2, 1.0)
    assert rows[(w0, 1)] == (1, 0.5)
    assert rows[(w0, 2)] == (2, 1.0)
    assert rows[(w1, 0)] == (1, 1.0)
    assert len(rows) == 4

    import pytest as _pytest

    with _pytest.raises(ValueError, match="interval_sec"):
        retention_cohorts(ev, 0)
