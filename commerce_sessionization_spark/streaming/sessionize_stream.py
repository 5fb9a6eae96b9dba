"""Streaming sessionization: session_window aggregation + stateful ids.

Two formulations of the 30-minute-gap rule on an unbounded stream:

- ``sessionize_stream_window`` — Spark's native ``session_window`` gap
  aggregation (built-in state store, watermark-driven eviction). Emits one
  row per closed session; per-event rows are not recoverable from it.
- ``sessionize_stream_stateful`` — ``applyInPandasWithState`` keyed by user:
  state is one tiny row ``(session_start_us, last_seen_us)`` per user, and
  every event is emitted with the *same deterministic session id the batch
  operator mints* (``sha256("{user}-{epoch_micros(session_start)}")``,
  cf. ``operators.sessions.sessionize``) — so a consumer can mix batch
  backfill and live stream output without id drift. This is the stream
  analogue of the reference's sessions-table carry-in
  (``SessionizationBuiltIn.scala:46-52``): state the batch job externalizes
  to parquet lives in the state store instead. The per-user update is the
  shared ``operators.sessions._sweep`` (the loop ``sessionize_capped`` runs)
  resumed from that state, and ``applyInPandasWithState`` is the only
  arbitrary-state API the package uses.

Scale notes (100 TB/day): state is O(#active users) × 16 bytes — tens of GB
across 1000 executors at billions of users, well inside RocksDB state-store
territory. The stream shuffles once per micro-batch on ``user_id`` (same key
as the batch window), and late events are bounded by the watermark: an event
older than ``delay`` is dropped rather than resurrecting an expired session
(the batch pipeline's equivalent failure is silent mis-sessionization —
SURVEY §2.8; the stream is strictly safer).

Within a micro-batch the group's rows are sorted by timestamp, so intra-batch
disorder is handled exactly like the batch window's ``orderBy``. Cross-batch
disorder beyond the watermark is dropped by design.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from commerce_sessionization_spark.operators.sessions import (
    DEFAULT_GAP_SECONDS,
    _mint_id,
    _sweep,
)

#: Events-stream wire schema (matches the testdata ``events`` table's core).
EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("session_start_us", LongType()),
        StructField("last_seen_us", LongType()),
    ]
)


def read_events_stream(
    spark, path: str, schema: StructType = EVENT_STREAM_SCHEMA, **options: Any
) -> DataFrame:
    """File-source stream of event parquet drops (append-only directory)."""
    reader = spark.readStream.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(path)


def sessionize_stream_window(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-session aggregate stream via native ``session_window``.

    Output (append mode, finalized on watermark passage): one row per closed
    session with bounds and event count. The state store merges overlapping
    gap windows; no custom code touches state.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, f"{gap_seconds} seconds"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def _make_session_fn(ts_col: str, gap_us: int, out_cols: list[str]):
    def assign_sessions(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (user,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        # enforce the late-data contract ourselves: unlike aggregations,
        # applyInPandasWithState does NOT pre-filter rows behind the
        # watermark — without this, a straggler could resurrect or corrupt
        # an expired session
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0:
            batch = batch[batch[ts_col].astype("int64") // 1_000_000 >= wm_ms]
            if batch.empty:
                return
        batch = batch.sort_values(ts_col, kind="mergesort", ignore_index=True)
        ts_us = (batch[ts_col].astype("int64") // 1000).to_numpy()

        starts, (start_us, last_us) = _sweep(
            ts_us, gap_us, state=state.get if state.exists else None
        )
        batch["session_id"] = [_mint_id(user, s) for s in starts]

        state.update((int(start_us), int(last_us)))
        # evict once the watermark passes last_seen + gap: from then on any
        # admissible event starts a fresh session, so the state is dead.
        # (NOT watermark + gap: at batch 0 the watermark is still 0, which
        # would schedule the timeout in 1970 and evict everyone on the
        # next no-data batch — live state would not survive a restart.)
        state.setTimeoutTimestamp(int(last_us) // 1000 + gap_us // 1000 + 1)
        yield batch[out_cols]

    return assign_sessions


def sessionize_stream_stateful(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-event session ids on a stream, batch-identical.

    ``applyInPandasWithState`` keyed by ``user_col``; emits every input row
    plus ``session_id``. Ids match ``operators.sessions.sessionize`` exactly
    when events arrive timestamp-ordered per user across micro-batches (the
    in-order case); intra-batch disorder is sorted away, cross-batch disorder
    within the gap extends the current session (same rule, possibly an id
    minted from a later-arriving earlier event is NOT re-written — streams
    can't retract emitted rows).
    """
    out_schema = StructType(
        [*events.schema.fields, StructField("session_id", StringType())]
    )
    out_cols = [f.name for f in out_schema.fields]
    fn = _make_session_fn(ts_col, gap_seconds * 1_000_000, out_cols)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
