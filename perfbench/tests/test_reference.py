"""The reference sweep against a hand fixture of the 30-minute rule's edges."""

import hashlib
from datetime import datetime, timezone

import pandas as pd

import reference


def _ts(s: str) -> int:
    return int(datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc).timestamp())


def _batch_id(user: int, first: str) -> str:
    return hashlib.sha256(f"{user}-{first}".encode()).hexdigest()


def _stream_id(user: int, first: str) -> str:
    return hashlib.sha256(f"{user}-{_ts(first) * 1_000_000}".encode()).hexdigest()


# (user, event time, first event of its session, as worked out by hand)
FIXTURE = [
    # a gap of exactly 1800 s stays in the session, 1801 s starts a new one
    (1, "2024-01-14 10:00:00", "2024-01-14 10:00:00"),
    (1, "2024-01-14 10:30:00", "2024-01-14 10:00:00"),
    (1, "2024-01-14 11:00:01", "2024-01-14 11:00:01"),
    # a session crossing the 11:00 hour boundary keeps its id
    (2, "2024-01-14 10:50:00", "2024-01-14 10:50:00"),
    (2, "2024-01-14 11:10:00", "2024-01-14 10:50:00"),
    # carrier row exactly at the 10:30 cutoff: the carry-in keeps it
    # (inclusive), and the 11:00 event 1800 s later continues its session
    (3, "2024-01-14 10:05:00", "2024-01-14 10:05:00"),
    (3, "2024-01-14 10:30:00", "2024-01-14 10:05:00"),
    (3, "2024-01-14 11:00:00", "2024-01-14 10:05:00"),
    # one second before the cutoff: not carried, the 11:00 event is new
    (4, "2024-01-14 10:29:59", "2024-01-14 10:29:59"),
    (4, "2024-01-14 11:00:00", "2024-01-14 11:00:00"),
]


def test_sweep_matches_hand_fixture():
    rows = pd.DataFrame(FIXTURE, columns=["user_id", "time", "first"])
    # shuffled, so the sweep's own ordering is what is tested
    rows = rows.sample(frac=1.0, random_state=3)
    ev = pd.DataFrame({"user_id": rows["user_id"], "ts": rows["time"].map(_ts)})
    out = reference.sweep(ev)
    assert list(out.index) == list(ev.index)
    want_batch = [_batch_id(u, f) for u, f in zip(rows["user_id"], rows["first"])]
    want_stream = [_stream_id(u, f) for u, f in zip(rows["user_id"], rows["first"])]
    assert list(out["batch_id"]) == want_batch
    assert list(out["stream_id"]) == want_stream
    assert list(out["session_start"]) == [_ts(f) for f in rows["first"]]
    assert out["batch_id"].nunique() == 6
