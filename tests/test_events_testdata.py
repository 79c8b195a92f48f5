"""Regression tests for the events catalog queries against the REAL
driver testdata (not synthesized frames) with an in-test DuckDB
cross-check.

Round-3 lesson: the events parquet changed from int64 epoch-nanos to
TIMESTAMP(MICROS), and every synthesized-data test stayed green while
all four time-based catalog queries silently broke against their
oracles. These tests pin the actual file schema and the cross-engine
µs derivation, so a future testdata re-generation fails HERE first.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from traits_data_spark.catalog import events, joins

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'"
    )
    yield con
    con.close()


def test_events_ts_is_naive_micros(spark):
    ev = events._events(spark, SF)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"


def test_ts_us_matches_duckdb_epoch_us(spark, duck):
    got = {
        r["event_id"]: r["ts_us"]
        for r in joins._events_us(spark, SF).limit(50).collect()
    }
    want = dict(
        duck.execute(
            "SELECT event_id, epoch_us(ts) FROM events "
            f"WHERE event_id IN ({','.join(map(str, got))})"
        ).fetchall()
    )
    assert got == want


def test_event_windows_matches_duckdb(spark, duck):
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in events.q_event_windows(spark, SF).collect()
    }
    want = {
        (ws, et): (n, vc)
        for ws, et, n, vc in duck.execute(
            events._EVENT_WINDOWS_SQL
        ).fetchall()
    }
    assert got == want


def test_event_sessions_spot_matches_duckdb(spark, duck):
    got = {
        r["event_id"]: r["session_seq"]
        for r in events.q_event_sessions(spark, SF)
        .filter(F.col("user_id") < 5)
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT event_id, session_seq FROM ("
            + events._EVENT_SESSIONS_SQL
            + ") WHERE user_id < 5"
        ).fetchall()
    )
    assert got == want
