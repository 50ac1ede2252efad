"""Sessionization gap precision: event_sessions and session_bounce_rate
must split sessions exactly where their DuckDB oracles do. The oracles
compare fractional epoch() seconds, so a 1800.4 s gap (just over the
30-minute threshold) starts a new session and a 1799.6 s gap does not —
even when whole-second truncation would say 1800 s for both."""

from __future__ import annotations

import datetime as dt
import decimal

import duckdb
import pytest

import __spark_entry__ as entry_mod


def _norm(v):
    if isinstance(v, (float, decimal.Decimal)):
        return round(float(v), 6)
    return v


def _rows(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    t0 = dt.datetime(2024, 1, 1, 8, 0)
    s = dt.timedelta(seconds=1)
    # user 1: 0.2 s → 1800.6 s, a 1800.4 s gap (two sessions);
    # user 2: 0.9 s → 1800.5 s, a 1799.6 s gap (one session)
    rows = [
        (0, t0 + 0.2 * s, 1, "view", 1.0, "{}"),
        (1, t0 + 1800.6 * s, 1, "click", 1.0, "{}"),
        (2, t0 + 0.9 * s, 2, "view", 1.0, "{}"),
        (3, t0 + 1800.5 * s, 2, "purchase", 1.0, "{}"),
    ]
    out = str(tmp_path_factory.mktemp("session_gap"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{out}/events.parquet")
    return out


@pytest.mark.parametrize("name", ["event_sessions", "session_bounce_rate"])
def test_fractional_gap_matches_oracle(spark, sf_dir, name):
    got = entry_mod.queries()[name](spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    cols = sorted(got.columns)
    oracle = con.execute(
        f"SELECT {', '.join(cols)} FROM ({entry_mod.oracle_sql()[name]})"
    ).fetchall()
    assert _rows(got.select(*cols).collect()) == _rows(oracle)


def test_gap_just_over_threshold_splits(spark, sf_dir):
    got = {
        r.user_id: r.n_sessions
        for r in entry_mod.queries()["event_sessions"](spark, sf_dir).collect()
    }
    assert got == {1: 2, 2: 1}
