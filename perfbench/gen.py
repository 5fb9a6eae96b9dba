"""Seeded input generator for the product-path benchmark.

Deliberately independent of the package (``sources.generator`` included), so
a change to the program can never change the inputs it is measured on. One
event set feeds three outputs:

- the reference CSV (``BEHAVIOR_SCHEMA`` columns, ``"yyyy-MM-dd HH:mm:ss UTC"``
  timestamps, shuffled row order), the input of ``divide``;
- hourly parquet drops in ``EVENT_STREAM_SCHEMA``, the input of the stream;
- a one-file ``events`` table in ``EVENTS_SCHEMA`` (``timestamp[us]`` plus
  ``props``), stored the way the repository's testdata tables are (TESTDATA.md).

Events are drawn session by session: a Zipf-skewed user, a uniform start, a
geometric number of events and exponential in-session gaps. A fixed share of
gaps is pinned to exactly 1800 s (same session) and exactly 1801 s (new
session), the two sides of the 30-minute rule. ``product_id`` in the CSV
carries the event id, so every output row joins back to its source event.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GAP_S = 1800
ZIPF_S = 0.8  # user popularity skew; the hottest of 200 k users has ~2 %
MEAN_SESSION_EVENTS = 6.0
MEAN_GAP_S = 90.0
PINNED_GAP_SHARE = 0.02  # of gaps set to exactly 1800 s, and again to 1801 s
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = np.array([0.55, 0.25, 0.08, 0.04, 0.08])
BRANDS = np.array(["samsung", "apple", "xiaomi", "huawei", "lucente", "bosch"])
CATEGORY_CODES = np.array(
    ["electronics.smartphone", "appliances.kitchen.washer",
     "computers.notebook", "apparel.shoes", "furniture.bedroom.bed"]
)


@dataclass(frozen=True)
class Shape:
    """What a workload's event set looks like."""

    start: datetime  # first hour, UTC
    hours: int
    events_per_hour: int
    users: int


def make_events(shape: Shape, seed: int) -> pd.DataFrame:
    """Events sorted by (ts, event_id); ``ts`` is whole epoch seconds.

    ``user_rank`` is the user's popularity rank (0 = hottest). Samples taken
    by rank keep the same skew whatever the seed.
    """
    rng = np.random.default_rng(seed)
    t0 = int(shape.start.replace(tzinfo=timezone.utc).timestamp())
    t_end = t0 + shape.hours * 3600
    # sessions also start in the hour before the window, so the first hour
    # has the carried-in traffic every later hour has; events before the
    # window are dropped
    n_sessions = round((shape.hours + 1) * shape.events_per_hour / MEAN_SESSION_EVENTS)

    rank_p = 1.0 / np.arange(1, shape.users + 1) ** ZIPF_S
    rank_p /= rank_p.sum()
    user_ids = 500_000_000 + rng.permutation(shape.users * 7)[: shape.users]
    session_rank = rng.choice(shape.users, size=n_sessions, p=rank_p)
    session_start = rng.integers(t0 - 3600, t_end, size=n_sessions)
    session_len = rng.geometric(1.0 / MEAN_SESSION_EVENTS, size=n_sessions)

    n = int(session_len.sum())
    owner = np.repeat(np.arange(n_sessions), session_len)
    first = np.zeros(n, dtype=bool)
    first[np.cumsum(session_len) - session_len] = True
    gaps = np.minimum(rng.exponential(MEAN_GAP_S, size=n).astype(np.int64), GAP_S)
    pin = rng.random(n)
    gaps[pin < PINNED_GAP_SHARE] = GAP_S
    gaps[(pin >= PINNED_GAP_SHARE) & (pin < 2 * PINNED_GAP_SHARE)] = GAP_S + 1
    gaps[first] = 0
    # cumulative gap within each session: global cumsum minus the value at
    # the session's first row
    csum = np.cumsum(gaps)
    ts = session_start[owner] + csum - csum[first][owner]
    keep = (ts >= t0) & (ts < t_end)

    ev = pd.DataFrame(
        {
            "ts": ts[keep],
            "user_id": user_ids[session_rank][owner][keep],
            "user_rank": session_rank[owner][keep],
            "_tie": rng.random(n)[keep],
            "event_type": rng.choice(EVENT_TYPES, size=n, p=EVENT_TYPE_P)[keep],
            "category_id": 2_053_013_552_000_000_000 + rng.integers(0, 400, size=n)[keep],
            "category_code": rng.choice(CATEGORY_CODES, size=n)[keep],
            "brand": rng.choice(BRANDS, size=n)[keep],
            "price": np.round(rng.lognormal(4.0, 1.0, size=n), 2)[keep],
            "k": rng.integers(0, 100, size=n)[keep],
        }
    )
    # some rows carry no category code or brand, as in the Kaggle dump
    ev.loc[rng.random(len(ev)) < 0.3, "category_code"] = None
    ev.loc[rng.random(len(ev)) < 0.1, "brand"] = None
    ev = ev.sort_values(["ts", "_tie"], kind="mergesort", ignore_index=True)
    ev.insert(0, "event_id", np.arange(len(ev), dtype=np.int64))
    return ev.drop(columns="_tie")


def _timestamps(ts: np.ndarray, unit: str = "s", tz: str | None = None) -> pa.Array:
    """Whole epoch seconds as an Arrow timestamp array of ``unit``."""
    scale = {"s": 1, "us": 1_000_000}[unit]
    return pa.array(ts * scale, pa.int64()).cast(pa.timestamp(unit, tz=tz))


def hour_keys(ts: pd.Series) -> tuple[pd.Series, pd.Series]:
    """The ``event_date`` and ``event_hour`` partition values of each event."""
    hour = ts // 3600
    names = {h: datetime.fromtimestamp(h * 3600, timezone.utc) for h in hour.unique()}
    return (hour.map({h: t.strftime("%Y-%m-%d") for h, t in names.items()}),
            hour.map({h: t.strftime("%H") for h, t in names.items()}))


def write_csv(ev: pd.DataFrame, path: str, seed: int) -> None:
    """The ``divide`` input: BEHAVIOR_SCHEMA columns in shuffled row order."""
    order = np.random.default_rng(seed + 1).permutation(len(ev))
    ev = ev.iloc[order]
    table = pa.table(
        {
            "event_time": pc.strftime(_timestamps(ev["ts"].to_numpy()),
                                      format="%Y-%m-%d %H:%M:%S UTC"),
            "event_type": ev["event_type"].to_numpy(),
            "product_id": ev["event_id"].to_numpy(),
            "category_id": ev["category_id"].to_numpy(),
            "category_code": pa.array(ev["category_code"], pa.string()),
            "brand": pa.array(ev["brand"], pa.string()),
            "price": ev["price"].to_numpy(),
            "user_id": ev["user_id"].to_numpy(),
        }
    )
    pacsv.write_csv(table, path)


def write_stream_drops(ev: pd.DataFrame, drop_dir: str, seed: int) -> list[str]:
    """One EVENT_STREAM_SCHEMA parquet file per hour, oldest first by mtime."""
    os.makedirs(drop_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 2)
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
        ]
    )
    hour = ev["ts"] // 3600
    paths = []
    base_mtime = 1_600_000_000
    for i, h in enumerate(sorted(hour.unique())):
        part = ev[hour == h]
        part = part.iloc[rng.permutation(len(part))]
        table = pa.table(
            {
                "event_id": part["event_id"].to_numpy(),
                "ts": _timestamps(part["ts"].to_numpy(), "us", "UTC"),
                "user_id": part["user_id"].to_numpy(),
                "event_type": part["event_type"].to_numpy(),
            },
            schema=schema,
        )
        path = os.path.join(drop_dir, f"drop-{i:04d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base_mtime + 60 * i, base_mtime + 60 * i))
        paths.append(path)
    return paths


def write_events_table(ev: pd.DataFrame, table_dir: str) -> str:
    """``{table_dir}/events.parquet``: one file, ``timestamp[us]``, ``props``."""
    os.makedirs(table_dir, exist_ok=True)
    value = np.where(
        ev["event_type"] == "purchase", ev["price"], np.round(ev["price"] / 10.0, 2)
    )
    table = pa.table(
        {
            "event_id": ev["event_id"].to_numpy(),
            "ts": _timestamps(ev["ts"].to_numpy(), "us"),
            "user_id": ev["user_id"].to_numpy(),
            "event_type": ev["event_type"].to_numpy(),
            "value": value,
            "props": [f'{{"k": {k}}}' for k in ev["k"].to_numpy()],
        }
    )
    path = os.path.join(table_dir, "events.parquet")
    pq.write_table(table, path)
    return path


def input_properties(ev: pd.DataFrame, sweep: pd.DataFrame) -> dict:
    """Measured properties of the inputs, recorded with every result.

    ``sweep`` is the reference sweep over ``ev`` (same row order); an event
    is in a carried-over session when its session started in an earlier
    hour than the event itself.
    """
    hour = ev["ts"] // 3600
    per_hour = ev.groupby(hour)
    carried = (sweep["session_start"] // 3600) < hour
    top_user = ev["user_id"].value_counts(normalize=True).iloc[0]
    return {
        "events": int(len(ev)),
        "hours": int(hour.nunique()),
        "events_per_hour": round(float(per_hour.size().mean()), 1),
        "users_per_hour": round(float(per_hour["user_id"].nunique().mean()), 1),
        "sessions": int(sweep["stream_id"].nunique()),
        "carried_event_share": round(float(carried.mean()), 4),
        "hottest_user_share": round(float(top_user), 4),
    }
