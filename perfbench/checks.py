"""Output checks, run outside the timed region.

Every check compares a program output with the reference sweep or with a
DuckDB oracle over the same input; none reshapes the data to pass.
"""

from __future__ import annotations

import math
import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def read_hour(base: str, table: str, date: str, hour: str, columns: list[str]) -> pd.DataFrame:
    path = os.path.join(base, table, f"event_date={date}", f"event_hour={hour}")
    if not os.path.isdir(path):
        return pd.DataFrame(columns=columns)
    files = [os.path.join(path, f) for f in sorted(os.listdir(path))
             if f.endswith(".parquet")]
    if not files:
        return pd.DataFrame(columns=columns)
    return pq.ParquetDataset(files).read(columns=columns).to_pandas()


def same_partition(ids_a: np.ndarray, ids_b: np.ndarray) -> bool:
    """True when two id columns over the same rows group them identically."""
    pairs = pd.DataFrame({"a": ids_a, "b": ids_b}).drop_duplicates()
    return pairs["a"].is_unique and pairs["b"].is_unique


def check_batch_hour(base: str, date: str, hour: str, expected: pd.DataFrame) -> list[str]:
    """Problems with one sessionized hour; empty when it is right.

    ``expected`` holds the hour's reference rows: ``event_id`` and
    ``batch_id``. The CSV's ``product_id`` carries the event id.
    """
    problems = []
    logs = read_hour(base, "logs", date, hour, ["product_id"])
    out = read_hour(base, "sessions", date, hour, ["product_id", "session_id"])
    if len(logs) != len(out):
        problems.append(f"row parity: logs {len(logs)} != sessions {len(out)}")
    nulls = int(out["session_id"].isna().sum())
    if nulls:
        problems.append(f"{nulls} null session_id")
    got = out.rename(columns={"product_id": "event_id"}).sort_values("event_id")
    want = expected.sort_values("event_id")
    if not np.array_equal(got["event_id"].to_numpy(), want["event_id"].to_numpy()):
        problems.append(f"event set differs: {len(got)} rows out, {len(want)} expected")
    else:
        wrong = int((got["session_id"].to_numpy() != want["batch_id"].to_numpy()).sum())
        if wrong:
            problems.append(f"{wrong} session ids differ from the reference sweep")
        if not same_partition(got["session_id"].to_numpy(), want["stream_id"].to_numpy()):
            problems.append("split into sessions differs from the stream preimage's")
    return problems


def check_divide(base: str, expected_per_hour: dict[tuple[str, str], int]) -> list[str]:
    problems = []
    for (date, hour), n in expected_per_hour.items():
        path = os.path.join(base, "logs", f"event_date={date}", f"event_hour={hour}")
        got = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                  for f in os.listdir(path) if f.endswith(".parquet")) \
            if os.path.isdir(path) else 0
        if got != n:
            problems.append(f"logs {date} {hour}: {got} rows, expected {n}")
    return problems


def check_stream(out_path: str, expected: pd.DataFrame) -> list[str]:
    """Stream output against the sweep: every event once, epoch-micros ids."""
    problems = []
    sessions = os.path.join(out_path, "sessions")
    if not os.path.isdir(sessions):
        return ["no stream output"]
    out = ds.dataset(sessions, format="parquet", partitioning="hive").to_table(
        columns=["event_id", "session_id"]
    ).to_pandas().sort_values("event_id")
    want = expected.sort_values("event_id")
    if not np.array_equal(out["event_id"].to_numpy(), want["event_id"].to_numpy()):
        problems.append(f"event set differs: {len(out)} rows out, {len(want)} expected")
        return problems
    wrong = int((out["session_id"].to_numpy() != want["stream_id"].to_numpy()).sum())
    if wrong:
        problems.append(f"{wrong} session ids differ from the reference sweep")
    if not same_partition(out["session_id"].to_numpy(), want["batch_id"].to_numpy()):
        problems.append("split into sessions differs from the batch preimage's")
    return problems


def check_batch_matches_stream(base: str, stream_out: str) -> list[str]:
    """The batch and the stream split their common events into the same
    sessions (ids differ only by preimage)."""
    stream = ds.dataset(os.path.join(stream_out, "sessions"), format="parquet",
                        partitioning="hive").to_table(columns=["event_id", "session_id"])
    batch = ds.dataset(os.path.join(base, "sessions"), format="parquet",
                       partitioning="hive").to_table(columns=["product_id", "session_id"])
    joined = stream.to_pandas().merge(
        batch.to_pandas().rename(columns={"product_id": "event_id"}),
        on="event_id", suffixes=("_stream", "_batch"))
    if len(joined) != stream.num_rows:
        return [f"{stream.num_rows - len(joined)} stream events missing from the batch output"]
    if not same_partition(joined["session_id_stream"].to_numpy(),
                          joined["session_id_batch"].to_numpy()):
        return ["batch and stream split the same events into different sessions"]
    return []


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    return str(v)


def check_oracle(spark_rows, spark_cols: list[str], con, sql: str) -> list[str]:
    """Spark result against its paired DuckDB SQL: names, count, values."""
    cur = con.execute(sql)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return [f"columns differ: spark={sorted(spark_cols)} duckdb={sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"row count: spark {len(spark_rows)} != duckdb {len(duck_rows)}"]
    cols = sorted(spark_cols)
    s_idx = [spark_cols.index(c) for c in cols]
    d_idx = [duck_cols.index(c) for c in cols]
    s = sorted(tuple(_norm(r[i]) for i in s_idx) for r in spark_rows)
    d = sorted(tuple(_norm(r[i]) for i in d_idx) for r in duck_rows)
    if s != d:
        only = set(s).symmetric_difference(d)
        return [f"{len(only)} rows differ, e.g. {sorted(only)[:2]}"]
    return []
