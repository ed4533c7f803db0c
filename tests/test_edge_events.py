"""Adversarial event-stream parity: the events-family queries run against a
crafted stream of boundary cases — equal-timestamp ties, session gaps
exactly at the threshold, window-boundary and sub-microsecond timestamps,
malformed/missing JSON payloads, out-of-order funnels — and must match the
DuckDB oracle bit-exactly.

The driver's synthetic stream is uniform; windowing/as-of/dedup semantics
diverge precisely at ties and boundaries, so this suite pins them.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.oracle_harness import TABLES, compare_frames, duckdb_conn, exact_float_mismatches

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"),
)
entry_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(entry_mod)

QUERIES = entry_mod.queries()
ORACLE = entry_mod.oracle_sql()

_EVENT_QUERIES = [
    "tumbling_hourly", "sliding_windows", "session_windows",
    "event_dedup_first", "json_props_stats", "asof_join_events",
    "range_join_events",
    "pivot_daily_activity", "user_funnel_conversion",
    "user_retention_cohorts", "event_value_trend",
    "event_transition_matrix", "event_interarrival_stats",
]


def _ns(s: str) -> int:
    return pd.Timestamp(s).value


_ROWS = [
    # (event_id, ts, user_id, event_type, value, props)
    # u1: click & purchase at the SAME timestamp (at-or-before as-of tie),
    # plus an earlier purchase with NO prior click (null as-of match)
    (1, _ns("2024-03-01 09:00:00"), 1, "purchase", 10.0, '{"k": 5}'),
    (2, _ns("2024-03-01 10:00:00"), 1, "click", 1.5, '{"k": 2}'),
    (3, _ns("2024-03-01 10:00:00"), 1, "purchase", 20.0, '{"k": 3}'),
    # duplicate (user, type, ts) with distinct ids: dedup tie-break on id
    (4, _ns("2024-03-01 10:00:00"), 1, "click", 0.0, "{}"),
    # u2: session gap EXACTLY 30 min (same session, strict >), then 30 min
    # + 1 s (new session)
    (5, _ns("2024-03-01 08:00:00"), 2, "view", -1.5, "{}"),
    (6, _ns("2024-03-01 08:30:00"), 2, "view", 2.25, '{"k": null}'),
    (7, _ns("2024-03-01 09:00:01"), 2, "view", 1e6, '{"k": -3}'),
    # u3: funnel strictly in order
    (8, _ns("2024-03-01 11:00:00"), 3, "signup", 0.5, '{"k": 7}'),
    (9, _ns("2024-03-01 11:05:00"), 3, "click", 0.5, '{"k": "7"}'),
    (10, _ns("2024-03-01 11:10:00"), 3, "purchase", 99.99, '{"k": "abc"}'),
    # u4: funnel out of order (purchase before click before signup)
    (11, _ns("2024-03-01 12:00:00"), 4, "purchase", 1.0, "not json"),
    (12, _ns("2024-03-01 12:05:00"), 4, "click", 1.0, ""),
    (13, _ns("2024-03-01 12:10:00"), 4, "signup", 1.0, None),
    # u5: signup + click at the SAME ts (strict > means funnel not reached)
    (14, _ns("2024-03-01 13:00:00"), 5, "signup", 3.125, '{"k": 11}'),
    (15, _ns("2024-03-01 13:00:00"), 5, "click", 3.125, '{"k": 13}'),
    # window boundaries: exactly on the hour, 1 ns before the hour
    # (truncates to :59:59.999999 µs → previous hour in BOTH engines),
    # sub-microsecond component
    (16, _ns("2024-03-01 14:00:00"), 6, "error", 0.0, "{"),
    (17, _ns("2024-03-01 13:59:59.999999999"), 6, "view", 4.5, '{"k": 1}'),
    (18, _ns("2024-03-01 14:15:30.123456789"), 6, "click", 7.75, '{"k": 9}'),
    # next-day row for the pivot day boundary (midnight itself)
    (19, _ns("2024-03-02 00:00:00"), 6, "view", 2.5, '{"k": 4}'),
    # lone user with only an error event
    (20, _ns("2024-03-01 15:30:00"), 7, "error", -0.25, "[1, 2]"),
    # u8 (distant day, no overlap with the pinned windows above): range-join
    # boundary cases — click exactly W=300 s before the error (inclusive),
    # click 1 µs inside the window, click at the SAME ts (gap 0), and a
    # second error with nothing in its window
    (21, _ns("2024-03-05 10:00:00"), 8, "click", 1.0, "{}"),
    (22, _ns("2024-03-05 10:04:59.999999"), 8, "click", 1.0, "{}"),
    (23, _ns("2024-03-05 10:05:00"), 8, "error", 1.0, "{}"),
    (24, _ns("2024-03-05 10:05:00"), 8, "click", 1.0, "{}"),
    (25, _ns("2024-03-05 11:00:00"), 8, "error", 1.0, "{}"),
    # u9 (distant day): session gap of 30 min + 13 ms — over the threshold
    # only when the gap is measured below whole seconds (new session)
    (26, _ns("2024-03-07 08:00:00"), 9, "view", 1.0, "{}"),
    (27, _ns("2024-03-07 08:30:00.013"), 9, "view", 1.0, "{}"),
]


@pytest.fixture(scope="module")
def edge_events_dir(tmp_path_factory):
    """Testdata layout whose events table is the edge stream (stored as
    TIMESTAMP(NANOS) like the driver's parquet); other tables borrowed
    from sf0.001."""
    d = tmp_path_factory.mktemp("edge_events")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    cols = list(zip(*_ROWS))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("ns")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, d / "events.parquet")
    return str(d)


@pytest.mark.parametrize("name", _EVENT_QUERIES)
def test_edge_events_parity(spark, edge_events_dir, name):
    spark.catalog.clearCache()
    sdf = QUERIES[name](spark, edge_events_dir).toPandas()
    with duckdb_conn(edge_events_dir) as conn:
        odf = conn.execute(ORACLE[name]).df()
    problems = compare_frames(sdf, odf, name)
    assert not problems, "\n".join(problems)
    assert exact_float_mismatches(sdf, odf) == 0


def test_edge_events_fixture_semantics(spark, edge_events_dir):
    """Spot-pin the boundary decisions themselves (not just parity):
    30-min gap stays in-session, same-ts click satisfies at-or-before,
    1 ns before the hour lands in the earlier window."""
    sessions = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in QUERIES["session_windows"](spark, edge_events_dir).collect()
    }
    # u2: events at 08:00, 08:30 share a session; 09:00:01 starts a new one
    assert sessions[(2, 1)] == 2 and sessions[(2, 2)] == 1
    # u9: a 1800.013 s gap splits the session
    assert sessions[(9, 1)] == 1 and sessions[(9, 2)] == 1

    asof_rows = QUERIES["asof_join_events"](spark, edge_events_dir).collect()
    asof = {
        r["event_id"]: r["gap_us"] for r in asof_rows if r["direction"] == "backward"
    }
    assert asof[1] is None          # purchase with no prior click
    assert asof[3] == 0             # same-ts click counts (at-or-before)
    fwd = {
        r["event_id"]: r["gap_us"] for r in asof_rows if r["direction"] == "forward"
    }
    # u1's clicks (ids 2 and 4) at 10:00 match the SAME-ts purchase (id 3):
    # at-or-after includes the tie (merge_asof direction='forward')
    assert fwd[2] == 0 and fwd[4] == 0

    tumbling = QUERIES["tumbling_hourly"](spark, edge_events_dir).collect()
    by_win = {(str(r["win_start"]), r["event_type"]): r["n_events"] for r in tumbling}
    # 13:59:59.999999999 truncates to µs inside hour 13
    assert by_win[("2024-03-01 13:00:00", "view")] == 1
    assert by_win[("2024-03-01 14:00:00", "error")] == 1


def test_range_join_boundary_semantics(spark, edge_events_dir):
    """Pin the window edges themselves: a click exactly W seconds before
    the error is IN (inclusive), a same-timestamp click gives gap 0, a
    click after the error never matches, and an error with an empty
    window reports 0 clicks and a NULL gap."""
    rows = {
        r["event_id"]: r
        for r in QUERIES["range_join_events"](spark, edge_events_dir).collect()
    }
    assert rows[23]["n_clicks_5m"] == 3          # 300 s, 1 µs, and 0 gaps
    assert rows[23]["min_gap_us"] == 0           # the same-ts click
    assert rows[25]["n_clicks_5m"] == 0 and rows[25]["min_gap_us"] is None
    assert rows[16]["n_clicks_5m"] == 0          # u6's click is AFTER the error
    assert rows[20]["n_clicks_5m"] == 0          # u7 has no clicks at all


def test_range_join_bucket_emission_property():
    """The bucketing scheme's correctness argument, property-tested: for
    any click/error microsecond pair, the click's two emitted buckets
    (bc, bc+1) contain the error's bucket IFF the pair is within one
    bucket width of qualifying — never losing a true window match — and
    in AT MOST one of the two (no duplicate pair rows before the exact
    predicate filters)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from amazon_climate_data_etl_spark.operators.events import RANGE_W_US

    W = RANGE_W_US
    ts = st.integers(min_value=0, max_value=4 * 10**15)

    @settings(max_examples=500, deadline=None)
    @given(tc=ts, te=ts)
    def prop(tc: int, te: int) -> None:
        bc, be = tc // W, te // W
        meets = be in (bc, bc + 1)
        qualifies = 0 <= te - tc <= W
        if qualifies:
            assert meets  # recall: a true window match always meets
        if meets:
            # a met pair is within one bucket width of the window (the
            # exact predicate rejects the rest) and meets exactly once
            assert -W < te - tc < 2 * W
            assert (be == bc) + (be == bc + 1) == 1

    prop()
