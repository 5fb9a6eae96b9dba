"""Reference sweep: the expected session ids, computed without Spark.

One pass over all events, per user in time order: an event more than 1800 s
after the user's previous event starts a session. Over the hourly chain this
is exact, because the carry-in keeps every session whose last event lies
within 30 minutes of the hour start (cutoff inclusive), and no session can
reach across a whole hour without an event in it.

The two outputs differ only in the id preimage:

- batch (``sessionize_hour``): ``sha256("{user}-{yyyy-MM-dd HH:mm:ss}")``
  of the session's first event, rendered in UTC;
- stream (``stream_sessions_to_parquet``): ``sha256("{user}-{epoch_us}")``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

GAP_S = 1800


def _sha256(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def sweep(ev: pd.DataFrame) -> pd.DataFrame:
    """Per event (same index as ``ev``): session start and both ids.

    ``ev`` needs ``user_id`` and ``ts`` (whole epoch seconds).
    """
    order = np.lexsort((ev["ts"].to_numpy(), ev["user_id"].to_numpy()))
    user = ev["user_id"].to_numpy()[order]
    ts = ev["ts"].to_numpy()[order]
    starts = np.ones(len(ts), dtype=bool)
    starts[1:] = (user[1:] != user[:-1]) | (ts[1:] - ts[:-1] > GAP_S)
    session_no = np.cumsum(starts) - 1
    start_ts = ts[starts][session_no]

    s_user = user[starts]
    s_ts = ts[starts]
    rendered = pd.to_datetime(s_ts, unit="s").strftime("%Y-%m-%d %H:%M:%S")
    batch_ids = np.array([_sha256(f"{u}-{r}") for u, r in zip(s_user, rendered)])
    stream_ids = np.array([_sha256(f"{u}-{t * 1_000_000}") for u, t in zip(s_user, s_ts)])

    out = pd.DataFrame(index=ev.index[order])
    out["session_start"] = start_ts
    out["batch_id"] = batch_ids[session_no]
    out["stream_id"] = stream_ids[session_no]
    return out.loc[ev.index]
