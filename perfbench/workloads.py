"""The two workloads. Each calls the package's public entry points the way
the CLI does, one closed-loop client, no concurrency.

A workload returns its timed operations (one divide, one hour, one
micro-batch or one query each), the problems its output checks found per
operation, and the per-span data the traced run turns into layer metrics.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import pandas as pd

import checks
import gen
import reference

#: The session-family catalog queries (``plans.queries``), in run order.
ANALYTICS_QUERIES = (
    "sessionize_events", "sessionize_events_bucketed", "session_stats",
    "user_session_counts", "prev_active_sessions", "session_transitions",
    "session_funnel", "linear_attribution", "concurrent_sessions_peak",
    "session_pattern_match", "capped_sessionize_parity",
)

#: The stream and the analytics table take every 32nd user by popularity
#: rank: small enough that a run stays near a minute, same skew every seed.
SAMPLE_RANK_MOD = 32

#: The chain crosses midnight into 2024-01-15, the cutoff
#: ``prev_active_sessions`` uses, so every query sees live data.
START = datetime(2024, 1, 14, 22)


@dataclass
class Op:
    kind: str  # divide | hour | batch | nodata_batch | query
    name: str
    wall_s: float
    events: int
    span_id: int | None = None
    batch_id: int | None = None
    problems: list[str] = field(default_factory=list)
    progress: dict | None = None  # a micro-batch's StreamingQueryProgress

    @property
    def failed(self) -> bool:
        return bool(self.problems)


@dataclass
class Outcome:
    ops: list[Op]
    path_wall_s: float  # the timed product path: the chain's wall, or a warm query pass
    warm: list[Op]  # the operations op_p50_s and the op.* medians are taken over
    inputs: dict
    extra: dict = field(default_factory=dict)  # per-path named figures


def real_rate_shape(hours: int) -> gen.Shape:
    """The reference's rate: Kaggle Oct-2019 is ~42 M events/month."""
    return gen.Shape(start=START, hours=hours, events_per_hour=56_000, users=200_000)


def _sampled(ev: pd.DataFrame) -> pd.Series:
    """Events of every SAMPLE_RANK_MOD-th user; the hottest user is not one."""
    return (ev["user_rank"] + 1) % SAMPLE_RANK_MOD == 0


def _run_op(op: Op, fn) -> None:
    try:
        fn()
    except Exception as e:  # a failed operation is counted, the run goes on
        op.problems.append(f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")


# -- day_real -----------------------------------------------------------------


def day_real(spark, tracer, work: str, seed: int, hours: int) -> Outcome:
    """``divide`` plus an hourly backfill at the real rate, then the stream
    drained over the same hours for the sampled users.

    Sessions are per user, so the user sample keeps whole sessions and the
    batch and stream outputs can be compared event for event.
    """
    from commerce_sessionization_spark.operators import divide_file, sessionize_hour
    from commerce_sessionization_spark.streaming.pipeline import (
        stream_sessions_to_parquet,
    )

    ev = gen.make_events(real_rate_shape(hours), seed)
    ref = pd.concat([ev[["event_id", "ts"]], reference.sweep(ev)], axis=1)
    ref["date"], ref["hour"] = gen.hour_keys(ev["ts"])
    csv = os.path.join(work, "raw.csv")
    gen.write_csv(ev, csv, seed)
    in_stream = _sampled(ev).to_numpy()
    drops = os.path.join(work, "drops")
    gen.write_stream_drops(ev[in_stream], drops, seed)
    base = os.path.join(work, "pipeline")
    stream_out = os.path.join(work, "stream_out")
    inputs = gen.input_properties(ev, ref)
    inputs["stream_events"] = int(in_stream.sum())
    inputs["stream_users_per_hour"] = round(float(
        ev[in_stream].groupby(ev["ts"][in_stream] // 3600)["user_id"].nunique().mean()), 1)

    ops: list[Op] = []
    t_path = time.perf_counter()
    with tracer.span("operators.ingest.divide_file") as sp:
        op = Op("divide", "divide", 0.0, len(ev), span_id=sp.span_id)
        t0 = time.perf_counter()
        _run_op(op, lambda: divide_file(spark, csv, base))
        op.wall_s = time.perf_counter() - t0
    ops.append(op)
    tree_files = []
    t = START
    for _ in range(hours):
        d, h = t.strftime("%Y-%m-%d"), t.strftime("%H")
        if tracer.enabled:
            tree_files.append(_count_files(base))
        with tracer.span("operators.sessionize.sessionize_hour", hour=f"{d} {h}") as sp:
            n = int(((ref["date"] == d) & (ref["hour"] == h)).sum())
            op = Op("hour", f"{d} {h}", 0.0, n, span_id=sp.span_id)
            t0 = time.perf_counter()
            _run_op(op, lambda: sessionize_hour(spark, d, h, base))
            op.wall_s = time.perf_counter() - t0
        ops.append(op)
        t += timedelta(hours=1)
    backfill_end = time.perf_counter()

    error, progress = None, []
    with tracer.span("streaming.pipeline.stream_sessions_to_parquet"):
        try:
            q = stream_sessions_to_parquet(
                spark, os.path.join(drops, "*.parquet"), stream_out,
                os.path.join(work, "checkpoint"), maxFilesPerTrigger=1,
            )
            q.awaitTermination()
            progress = list(q.recentProgress)
        except Exception as e:
            error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    path_end = time.perf_counter()
    drain = path_end - backfill_end
    batches = [
        Op("batch" if p["numInputRows"] else "nodata_batch", f"batch {p['batchId']}",
           p["durationMs"]["triggerExecution"] / 1000.0, int(p["numInputRows"]),
           batch_id=int(p["batchId"]), progress=p)
        for p in progress
    ]
    if error or not batches:
        batches.append(Op("batch", "stream", drain, inputs["stream_events"],
                          problems=[error or "the stream made no progress"]))

    # checks, outside the timed region
    per_hour = ref.groupby(["date", "hour"]).size().to_dict()
    ops[0].problems += checks.check_divide(base, per_hour)
    for op in ops[1:]:
        if not op.failed:
            d, h = op.name.split()
            want = ref[(ref["date"] == d) & (ref["hour"] == h)]
            op.problems += checks.check_batch_hour(base, d, h, want)
    if not any(b.failed for b in batches):
        problems = checks.check_stream(stream_out, ref[in_stream])
        problems += checks.check_batch_matches_stream(base, stream_out)
        for b in batches:  # the drain's output is checked as a whole
            b.problems += problems
    ops += batches

    hours_ops = [o for o in ops if o.kind == "hour"]
    data = [o for o in batches if o.kind == "batch"]
    extra = {
        "divide_eps": ops[0].events / ops[0].wall_s,
        "first_hour_s": hours_ops[0].wall_s,
        "hour_p50_s": statistics.median(o.wall_s for o in hours_ops[1:]),
        "backfill_eps": sum(o.events for o in hours_ops) / sum(o.wall_s for o in hours_ops),
        "stream_eps": inputs["stream_events"] / drain,
        "batch_p50_s": statistics.median(o.wall_s for o in data),
        "carried_sessions_per_hour": _carried_sessions(ref),
    }
    if tree_files:
        extra["tree_files_per_hour"] = tree_files
    return Outcome(ops, path_end - t_path, hours_ops[1:], inputs, extra)


def _count_files(base: str) -> int:
    n = 0
    for table in ("logs", "sessions"):
        for _, _, files in os.walk(os.path.join(base, table)):
            n += len(files)
    return n


def _carried_sessions(ref: pd.DataFrame) -> float:
    """Sessions per hour that were open when the hour started."""
    hour = ref["ts"] // 3600
    carried = ref[(ref["session_start"] // 3600) < hour]
    per_hour = carried.groupby(hour[carried.index])["batch_id"].nunique()
    return float(per_hour.mean()) if len(per_hour) else 0.0


# -- session_analytics ---------------------------------------------------------


def session_analytics(spark, tracer, work: str, seed: int, hours: int, passes: int) -> Outcome:
    """``passes`` runs of the session-family catalog queries over day_real's
    events for the sampled users, stored the way the repository's testdata
    tables are. Each execution is checked against its DuckDB oracle; each
    query is timed at its best run."""
    import duckdb

    from commerce_sessionization_spark.plans.queries import FULL_CATALOG

    ev = gen.make_events(real_rate_shape(hours), seed)
    ev = ev[_sampled(ev)].reset_index(drop=True)
    inputs = gen.input_properties(ev, reference.sweep(ev))
    table_dir = os.path.join(work, "tables")
    gen.write_events_table(ev, table_dir)
    catalog = {q.name: q for q in FULL_CATALOG}

    ops, results = [], {}  # results by position in ops
    for i, name in enumerate(ANALYTICS_QUERIES * passes):
        with tracer.span("plans.queries." + name) as sp:
            op = Op("query", name, 0.0, len(ev), span_id=sp.span_id)
            t0 = time.perf_counter()

            def run(name=name, sp=sp, i=i):
                df = catalog[name].spark(spark, table_dir)
                sp.attrs["build_s"] = time.perf_counter() - t0
                # one execution serves both the timing and the oracle check
                results[i] = (df.columns, df.toArrow().to_pylist())
                if tracer.enabled:
                    sp.attrs["plan_phases_s"] = _planning_phases(df)

            _run_op(op, run)
            op.wall_s = time.perf_counter() - t0
        ops.append(op)
    # each query at its best run: a query's first run pays its own code
    # generation (the very first one the JVM's classloading and JIT warm-up
    # too), and a busy host only ever adds time
    best = [min((o for o in ops if o.name == name), key=lambda o: o.wall_s)
            for name in ANALYTICS_QUERIES]
    path_wall = sum(o.wall_s for o in best)

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{table_dir}/events.parquet'")
        for i, op in enumerate(ops):
            if not op.failed:
                cols, rows = results.pop(i)
                op.problems += checks.check_oracle(
                    [[r[c] for c in cols] for r in rows], cols, con, catalog[op.name].oracle)
    finally:
        con.close()
    extra = {
        "query_p50_s": statistics.median(o.wall_s for o in best),
        "analytics_s": path_wall,
    }
    return Outcome(ops, path_wall, best, inputs, extra)


def _planning_phases(df) -> dict:
    """Phase durations the DataFrame's own QueryPlanningTracker recorded."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out
