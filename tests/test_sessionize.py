"""``sessionize_events`` against its DuckDB twin on gaps either side of
the 30-minute session boundary, including sub-second fractions."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry

T0 = dt.datetime(2024, 1, 1)

# user -> seconds after T0 of each event, and the sessions the 30-minute
# rule (gap strictly above 1800 s) gives
USERS = {
    1: ([0.0, 1800.5], 2),
    2: ([0.0, 1799.9], 1),
    3: ([0.6, 1800.7], 2),  # 1800.1 s apart, both whole parts 1800 apart
    4: ([0.0, 1800.0], 1),  # exactly on the boundary
    5: ([0.0, 1799.9, 3600.5, 5400.6], 3),
}


def _events(path) -> None:
    rows = [(u, off) for u, (offs, _) in USERS.items() for off in offs]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            # no time zone: read back as TIMESTAMP_NTZ, like the sf tables
            "ts": pa.array(
                [T0 + dt.timedelta(seconds=off) for _, off in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }),
        path,
    )


def test_sub_second_gaps_match_twin(spark, tmp_path):
    _events(tmp_path / "events.parquet")
    got = sorted(
        tuple(r)
        for r in entry.queries()["sessionize_events"](spark, str(tmp_path))
        .select("user_id", "n_sessions", "n_events")
        .collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = sorted(
        con.execute(
            "SELECT user_id, n_sessions, n_events FROM ("
            f"{entry.oracle_sql()['sessionize_events']})"
        ).fetchall()
    )
    assert got == want
    assert got == sorted((u, n, len(offs)) for u, (offs, n) in USERS.items())
