"""Reference-parity sessionization core (SURVEY §2.5, §3 EP1).

Semantics ported from ``SessionizationBuiltIn.scala`` (the production path;
the deprecated UDF variant ``SessionizationUdf.scala:10-13`` is intentionally
NOT ported — it materializes whole user histories via collect_list and breaks
codegen). All logic is declarative window functions: one window spec over
``(user_id, event_timestamp)`` carries the lag-gap, boundary seeding, and
forward fill in a single exchange+sort; the gap rule is
``operators.sessions._gap_rule``, shared with the generic operators. The
hourly job feeds every prev-hour row inside the 30-min carry window straight
into that window, so its whole plan is one ``hashpartitioning(user_id)``
exchange feeding the write.

Session rule: a user's events ≤ 30 min apart share a session; a gap > 1800 s
starts a new one (``SessionizationBuiltIn.scala:12``). Session ids are
deterministic: ``sha2(concat_ws("-", user_id, event_timestamp), 256)`` where
the timestamp renders as a *string* (``SessionizationBuiltIn.scala:76-77``) —
hence the engine pins ``spark.sql.session.timeZone=UTC``; any tz drift would
change every id.

Scale notes (100 TB): the per-user window shuffles once on ``user_id``
(W1-W3 share one partitioning and ordering, so one exchange+sort); hot users
are bounded by one hour of events + their last 30 min of carried rows, so the
sort is small per key. The reference's global ``sort(event_timestamp)``
(``SessionizationBuiltIn.scala:110``) is a range exchange plus a sampling job;
``sessionize_hour`` replaces it with a per-file time sort that rides on the
window's partitioning (``augment_session_id`` keeps the global sort for
reference parity).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from commerce_sessionization_spark.operators.sessions import (
    DEFAULT_GAP_SECONDS,
    _gap_rule,
)
from commerce_sessionization_spark.schemas import BEHAVIOR_SCHEMA, SESSION_SCHEMA
from commerce_sessionization_spark.sources.io import (
    read_parquet,
    write_partitioned_parquet,
)

#: Stored event_time format (``SessionizationBuiltIn.scala:82-85``).
EVENT_TIME_FORMAT = "yyyy-MM-dd HH:mm:ss 'UTC'"


def with_event_timestamp(df: DataFrame) -> DataFrame:
    """Parse the stored string ``event_time`` into a transient timestamp."""
    return df.withColumn(
        "event_timestamp", F.to_timestamp("event_time", EVENT_TIME_FORMAT)
    )


def augment_session_id(
    df: DataFrame, process_time: datetime, sort_output: bool = True
) -> DataFrame:
    """Assign ``session_id`` to every event of hour ``process_time``.

    Input: union of prev-hour active-session representatives (session_id
    populated) and current-hour behaviors (session_id NULL); see
    ``sessionize_hour``. A df without a session_id column is treated as
    having none carried in.

    Mirrors ``SessionizationBuiltIn.scala:68-113``:

    1. boundary: the user's first row or a gap > 1800 s after ``lag`` (W1)
    2. seed ids: keep carried id / mint sha2 at boundaries / NULL (W2)
    3. forward-fill via ``last(ignorenulls)`` (W3)
    4. drop carried prev-hour rows; keep only the processed hour (P5)
    5. optional global sort by timestamp (O1) + drop transients (P8)

    The reference compares ``unix_timestamp`` seconds; W1 compares µs.
    ``event_timestamp`` is parsed from whole seconds, so the two agree.

    Carried rows may be one per session (``load_prev_active_sessions``) or
    every row of the carry window (``carry_window``): all of a user's rows
    in that window belong to one session, so either input gives the same ids.
    """
    if "session_id" not in df.columns:
        df = df.withColumn("session_id", F.lit(None).cast("string"))

    df = with_event_timestamp(df)
    w = Window.partitionBy("user_id").orderBy("event_timestamp")
    boundary, fill = _gap_rule(w, "event_timestamp", DEFAULT_GAP_SECONDS)
    # W2: carried ids win; a boundary mints a fresh id from the
    # *string-rendered* timestamp (UTC session tz). W3 fills it forward.
    seed = F.coalesce(
        F.col("session_id"),
        F.when(
            boundary, F.sha2(F.concat_ws("-", "user_id", "event_timestamp"), 256)
        ),
    )
    df = df.withColumn("session_id", fill(seed))
    # P5: carried-in prev-hour carrier rows are excluded from output.
    df = df.filter(
        (F.col("event_date") == process_time.strftime("%Y-%m-%d"))
        & (F.col("event_hour") == process_time.strftime("%H"))
    )
    if sort_output:
        df = df.sort("event_timestamp")
    return df.drop("event_timestamp").select(
        *[f.name for f in SESSION_SCHEMA.fields]
    )


def carry_window(df: DataFrame, process_time: datetime) -> DataFrame:
    """Prev-hour rows within 30 min of the processed hour's start.

    The boundary is *inclusive* (``SessionizationBuiltIn.scala:129``): a row
    at exactly HH-1:30:00 can still continue into hour HH.
    """
    cutoff = process_time - timedelta(seconds=DEFAULT_GAP_SECONDS)
    return df.filter(
        F.to_timestamp("event_time", EVENT_TIME_FORMAT)
        >= F.to_timestamp(F.lit(cutoff.strftime("%Y-%m-%d %H:%M:%S")))
    )


def load_prev_active_sessions(df: DataFrame, process_time: datetime) -> DataFrame:
    """One representative row per still-active prev-hour session.

    Mirrors ``SessionizationBuiltIn.scala:117-134``: keep the rows of the
    carry window (``carry_window``), then per ``session_id`` keep only the
    latest event (row_number desc, rank 1) — so the 30-min expiry is
    measured from the session's last activity. ``sessionize_hour`` skips the
    per-session dedupe and its extra exchange; see its docstring.
    """
    w = Window.partitionBy("session_id").orderBy(F.desc("event_timestamp"))
    return (
        with_event_timestamp(carry_window(df, process_time))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .drop("rank", "event_timestamp")
    )


def sessionize_hour(
    spark: SparkSession,
    event_date: str,
    event_hour: str,
    base_path: str,
    write: bool = True,
) -> DataFrame:
    """EP1 — the hourly incremental job (``SessionizationBuiltIn.scala:25-65``).

    Reads hour t's behaviors from ``{base}/logs`` and hour t-1's *own output*
    from ``{base}/sessions`` (externalized state — the batch analogue of a
    stream state store), unions the prev-hour rows of the carry window with
    the new events, re-runs the window chain, and dynamic-overwrites hour t
    of ``{base}/sessions``.

    Unlike the reference, the carried rows are not first reduced to one per
    session: timestamps are whole seconds and the carry window spans at most
    1799 s, so all of a user's carried rows belong to one session (hour t-1
    was written under the same gap rule), and the
    row just before the user's first new event is the one the per-session
    dedupe would keep. The ids are the same and the plan has a single
    exchange, ``hashpartitioning(user_id)``. Each output file is ordered by
    time; the partition-column prefix of that sort satisfies the write's
    required ordering, so Spark adds no sort of its own (which would not keep
    the time order).
    """
    process_time = datetime.strptime(f"{event_date} {event_hour}", "%Y-%m-%d %H")
    prev_time = process_time - timedelta(hours=1)

    behaviors = read_parquet(spark, f"{base_path}/logs", BEHAVIOR_SCHEMA).filter(
        (F.col("event_date") == event_date) & (F.col("event_hour") == event_hour)
    )
    try:
        prev_sessions = read_parquet(
            spark, f"{base_path}/sessions", SESSION_SCHEMA
        ).filter(
            (F.col("event_date") == prev_time.strftime("%Y-%m-%d"))
            & (F.col("event_hour") == prev_time.strftime("%H"))
        )
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        # first hour ever: no sessions table yet → empty carry-in
        prev_sessions = spark.createDataFrame([], SESSION_SCHEMA)

    unioned = carry_window(prev_sessions, process_time).unionByName(
        behaviors, allowMissingColumns=True
    )
    sessions = augment_session_id(
        unioned, process_time, sort_output=False
    ).sortWithinPartitions("event_date", "event_hour", "event_time")
    if write:
        write_partitioned_parquet(
            sessions, f"{base_path}/sessions", cluster_before_write=False
        )
    return sessions
