"""Faithful port of the reference's DEPRECATED UDF sessionization path.

Reference: ``SessionizationUdf.scala`` (marked ``@deprecated`` there,
replaced by the window-function builtin — issue #3 in the reference
repo). Ported for parity-matrix completeness and QUARANTINED here: this
is the documented anti-pattern (``collect_list`` materializes each
user's whole history in one aggregation buffer, and the row-at-a-time
UDF runs outside codegen), kept runnable so the builtin/UDF divergences
are pinned by tests instead of prose:

1. **Gap resolution** — the UDF compares epoch-millisecond deltas
   against 1_800_000 ms (``SessionizationUdf.scala:16,68``); the
   builtin compares µs deltas against 1800 s, but of timestamps parsed
   from whole-second strings (``with_event_timestamp``). A 1800.5 s gap
   SPLITS here; the builtin can never see one, so the sub-second regime
   stays unreachable on the production path and the divergence latent.
2. **Id preimage** — ``sha256("{user_id}-{epochMillis}")``
   (``SessionizationUdf.scala:111-121``) vs the builtin's string-
   rendered timestamp preimage: ids never match across paths even when
   the segmentation agrees; compare sessions up to renumbering.
3. **date_hour filter** (§2.2 P6, ``SessionizationUdf.scala:35``) —
   the deprecated entry point filters on a pre-rendered
   ``date_hour == "{date}T{hour}Z"`` string column;
   ``filter_date_hour`` reproduces it.

Production code should use ``operators.sessions.sessionize`` /
``operators.sessionize`` — this module exists so the §2 inventory rows
are implemented-and-tested rather than documented-away.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

SESSION_EXPIRED_MS = 30 * 60 * 1000


def filter_date_hour(df: DataFrame, date: str, hour: str) -> DataFrame:
    """The deprecated entry point's partition filter: a pre-rendered
    ``date_hour`` string equality (``"{date}T{hour}Z"``)."""
    return df.filter(F.col("date_hour") == f"{date}T{hour}Z")


def _epoch_millis(ts) -> int:
    """UTC epoch milliseconds of a (naive-UTC) timestamp. The UDF
    receives naive datetimes in the session timezone (UTC here);
    ``datetime.timestamp()`` would interpret them in the WORKER's local
    zone, so derive millis via timegm — correct on any host."""
    import calendar

    if hasattr(ts, "value"):  # pandas Timestamp: exact ns
        return ts.value // 1_000_000
    return calendar.timegm(ts.timetuple()) * 1000 + ts.microsecond // 1000


@F.udf(ArrayType(StringType()))
def _assign_session_ids(user_id, event_times):
    """The reference UDF verbatim: fold over the sorted times, minting
    sha256("{userId}-{epochMillis}") when the ms-gap exceeds the
    threshold, else repeating the last id."""
    def mint(ts):
        return hashlib.sha256(
            f"{user_id}-{_epoch_millis(ts)}".encode()
        ).hexdigest()

    out = [mint(event_times[0])]
    prev = event_times[0]
    for cur in event_times[1:]:
        if _epoch_millis(cur) - _epoch_millis(prev) > SESSION_EXPIRED_MS:
            out.append(mint(cur))
        else:
            out.append(out[-1])
        prev = cur
    return out


def augment_session_id_udf(
    df: DataFrame,
    user_col: str = "user_id",
    time_col: str = "event_time",
) -> DataFrame:
    """The deprecated path's plan shape, faithfully: groupBy user →
    ``array_sort(collect_list(struct(...)))`` → UDF over the time array
    → ``zip_with`` ids back onto events → explode.

    ``time_col`` must be the FIRST field of the collected struct (the
    reference relies on array_sort's lexicographic struct order doing
    the time sort). All non-key columns ride along.
    """
    payload = [c for c in df.columns if c != user_col]
    if payload[0] != time_col:
        payload = [time_col] + [c for c in payload if c != time_col]
    events = F.struct(*[F.col(c) for c in payload])
    zipped = F.zip_with(
        F.col("events"),
        F.col("session_ids"),
        lambda e, s: F.struct(
            *[e.getField(c).alias(c) for c in payload], s.alias("session_id")
        ),
    )
    return (
        df.groupBy(user_col)
        .agg(F.array_sort(F.collect_list(events)).alias("events"))
        .withColumn("event_times", F.col(f"events.{time_col}"))
        .withColumn(
            "session_ids",
            _assign_session_ids(F.col(user_col).cast("string"), F.col("event_times")),
        )
        .withColumn("events_with_session", zipped)
        .select(
            F.col(user_col),
            F.explode("events_with_session").alias("e"),
        )
        .select(user_col, "e.*")
    )
