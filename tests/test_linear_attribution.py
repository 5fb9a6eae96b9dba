"""``linear_attribution`` against its DuckDB oracle on near-half-way shares.

A purchase's share is its value over its touch count. As doubles,
139.17 / 96 = 1.4496874999999998 and 256.09 / 32 = 8.0028125 (just above
the half). Cast to DECIMAL(18,6), Spark rounds the decimal rendering
(1.449687, 8.002813) and DuckDB the double scaled by 10^6 (1.449688,
8.002812), so the engines used to disagree in the sixth decimal. Both now
split the value as exact micro-units rounded half away from zero:
1 449 688 and 8 002 813.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from commerce_sessionization_spark.plans.queries import (
    SQL_LINEAR_ATTRIBUTION,
    q_linear_attribution,
)

T0 = datetime(2024, 1, 1, 9)


def _events(path):
    """User 7: 96 views, then a purchase of 139.17; user 8: 32 carts, then a
    purchase of 256.09 (one session each: touches a minute apart); user 9:
    a purchase with no earlier touch, credited to 'direct'."""
    rows = []
    for user, touch, n, value in ((7, "view", 96, 139.17), (8, "cart", 32, 256.09)):
        for i in range(n):
            rows.append((user, T0 + timedelta(minutes=i), touch, 1.0))
        rows.append((user, T0 + timedelta(minutes=n), "purchase", value))
    rows.append((9, T0, "purchase", 5.25))
    users, ts, types, values = zip(*rows)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(1, len(rows) + 1), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }),
        f"{path}/events.parquet",
    )


def test_near_half_shares_match_oracle(spark, tmp_path):
    _events(tmp_path)
    got = sorted(
        tuple(r) for r in q_linear_attribution(spark, str(tmp_path))
        .select("channel", "attributed_revenue", "n_purchases").collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = sorted(
        con.execute(
            "SELECT channel, attributed_revenue, n_purchases FROM ("
            + SQL_LINEAR_ATTRIBUTION + ")"
        ).fetchall()
    )
    assert got == want
    assert got == [
        ("cart", 32 * 8_002_813 / 1e6, 1),
        ("direct", 5.25, 1),
        ("view", 96 * 1_449_688 / 1e6, 1),
    ]
