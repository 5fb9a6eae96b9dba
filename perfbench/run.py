"""Product-path benchmark for commerce_sessionization_spark.

    python3 perfbench/run.py --workload day_real --seed 1 --seconds 30 --trace 0

Run from the repository root. The benchmark generates its inputs from the
seed, calls the package's public entry points the way the CLI does, checks
every output against its own reference, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on Spark's event log and the span
recorder and reports the per-layer metrics instead. Scratch data lives in
``.perfbench_work/`` under the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

#: Per workload: the function, the operation kind its metrics are taken
#: over, and its size for a given --seconds. Three real-rate hours (the
#: floor for a median over warm hours) make a ~35 s timed path on a 4-core
#: machine; analytics uses the same events and two query passes per 30 s.
WORKLOADS = {
    "day_real": (wl.day_real, "hour", lambda s: {"hours": max(3, s // 10)}),
    "session_analytics": (wl.session_analytics, "query",
                          lambda s: {"hours": max(3, s // 10), "passes": max(2, s // 15)}),
}

#: Per-layer metrics: medians over the workload's warm operations (hours or
#: queries), from the event log. GC time, spill and written bytes, zero on
#: one workload or both at these sizes, stay in the result file only.
LAYER_FIELDS = {
    "wall_s": "s", "outside_jobs_s": "s", "job_busy_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
    "shuffle_bytes": "bytes", "records_read": "count",
    "parallelism": "ratio",
}


def pin_environment(work: str) -> dict:
    """Environment every run depends on, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too; no hsperfdata file, which HotSpot
    # writes to /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the pandas workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {"cpus": cpus, "load_avg": os.getloadavg()}


def steal_s() -> float:
    """CPU time the hypervisor has given other guests while this machine's
    CPUs wanted to run, summed over CPUs; 0 on bare metal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            if ppid == pid:
                kids.append(int(entry))
    return kids + [g for k in kids for g in _children(k)]


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until its workers have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def layer_metrics(outcome, jobs: list) -> tuple[dict, dict]:
    """Per-op layer records from the event log, and their warm medians."""
    by_span, by_batch = tr.jobs_by_span(jobs), tr.jobs_by_batch(jobs)
    records = []
    for op in outcome.ops:
        if op.batch_id is not None:
            op_jobs = by_batch.get(op.batch_id, [])
        else:
            op_jobs = by_span.get(str(op.span_id), [])
        rec = tr.layer_record(op.wall_s, op_jobs)
        rec.update(kind=op.kind, name=op.name, events=op.events,
                   warm=any(op is w for w in outcome.warm))
        records.append(rec)
    warm = [r for r in records if r["warm"]]
    return records, {f"op.{k}": statistics.median(r[k] for r in warm) for k in LAYER_FIELDS}


def named_layer_figures(name: str, work: str, tracer, outcome, records: list[dict]) -> dict:
    """Per-layer figures of the modules only one workload calls."""
    med = statistics.median
    out = {}
    if name == "day_real":
        div = records[0]
        out.update({f"ingest.{k}": div[k] for k in (
            "wall_s", "outside_jobs_s", "job_busy_s", "jobs", "tasks",
            "task_cpu_s", "shuffle_bytes", "spill_bytes")})
        out["ingest.bytes_out_per_in"] = div["bytes_written"] / max(
            os.path.getsize(os.path.join(work, "raw.csv")), 1)
        hours = [r for r in records if r["kind"] == "hour"]
        out["sessionize.read_amplification"] = med(
            r["records_read"] / max(r["records_written"], 1) for r in hours)
        out["sessionize.bytes_out_per_event"] = med(
            r["bytes_written"] / max(r["events"], 1) for r in hours)
        out["sessionize.gc_s"] = med(r["gc_s"] for r in hours)
        out["sessionize.spill_bytes"] = med(r["spill_bytes"] for r in hours)
        out["sessionize.files_out"] = med(
            sum(f.endswith(".parquet") for f in os.listdir(os.path.join(
                work, "pipeline", "sessions", f"event_date={r['name'].split()[0]}",
                f"event_hour={r['name'].split()[1]}")))
            for r in hours)
        out["sessionize.tree_files"] = outcome.extra.get("tree_files_per_hour")
        out["sessionize.carried_sessions"] = outcome.extra["carried_sessions_per_hour"]
        data = [op for op in outcome.ops if op.kind == "batch" and op.progress]
        for key, label in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                           ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s"),
                           ("getBatch", "get_batch_s"), ("latestOffset", "latest_offset_s")):
            out[f"stream.{label}"] = med(op.progress["durationMs"].get(key, 0) / 1000.0
                                         for op in data)
        nodata = [op.wall_s for op in outcome.ops if op.kind == "nodata_batch"]
        out["stream.nodata_batch_s"] = med(nodata) if nodata else None
        out["stream.batches"] = sum(op.kind in ("batch", "nodata_batch") for op in outcome.ops)
        state = [op.progress["stateOperators"][0] for op in data if op.progress["stateOperators"]]
        out["stream.state_rows"] = max(s["numRowsTotal"] for s in state) if state else None
        out["stream.state_bytes"] = max(s["memoryUsedBytes"] for s in state) if state else None
        out["stream.files_out"] = sum(
            len(files) for _, _, files in os.walk(os.path.join(work, "stream_out", "sessions")))
        out["stream.groups_per_batch"] = outcome.inputs["stream_users_per_hour"]
        out["stream.task_run_s"] = med(r["task_run_s"] for r in records if r["kind"] == "batch")
        out["stream.task_cpu_s"] = med(r["task_cpu_s"] for r in records if r["kind"] == "batch")
        out["stream.shuffle_bytes"] = med(
            r["shuffle_bytes"] for r in records if r["kind"] == "batch")
    else:
        queries = outcome.warm
        spans = {sp.span_id: sp for sp in tracer.spans}
        out["analytics.build_s"] = med(spans[op.span_id].attrs.get("build_s", 0.0)
                                       for op in queries)
        out["analytics.plan_s"] = med(sum(spans[op.span_id].attrs.get("plan_phases_s", {})
                                          .values()) for op in queries)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "commerce_sessionization_spark", "__init__.py")):
        print(f"perfbench: package commerce_sessionization_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    steal0 = steal_s()
    sys.path.insert(0, ROOT)
    import pyspark

    from commerce_sessionization_spark.session import get_spark

    fn, kind, size = WORKLOADS[args.workload]
    tracer = tr.Tracer(run_id=f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    log_dir = os.path.join(work, "eventlog")
    extra_conf = {}
    if args.trace:
        os.makedirs(log_dir)
        extra_conf = tr.eventlog_conf(log_dir)

    # one launch a run: each costs ~8 s of a run budget the real-rate chain
    # already fills; setup_s is compared as a median over runs
    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
        setup_s = time.perf_counter() - t0
    try:
        tracer.bind(spark)
        outcome = fn(spark, tracer, work, args.seed, **size(args.seconds))
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
    env["steal_s"] = steal_s() - steal0

    first_op_s = next(op.wall_s for op in outcome.ops if op.kind == kind)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(op.wall_s for op in outcome.warm), "s"),
        "path_s": (outcome.path_wall_s, "s"),
    }
    attempted = len(outcome.ops)
    failed = sum(op.failed for op in outcome.ops)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark_version": pyspark.__version__,
        **env, "inputs": outcome.inputs,
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, "first_op_s": first_op_s,
        "named_metrics": outcome.extra, "peak_rss_mb": rss,
        "failed_frac": failed / attempted,
        "ops": [{"kind": op.kind, "name": op.name, "wall_s": op.wall_s,
                 "events": op.events, "problems": op.problems} for op in outcome.ops],
    }

    if args.trace:
        jobs = tr.parse_eventlog(tr.eventlog_files(log_dir))
        records, layer = layer_metrics(outcome, jobs)
        report["layers"] = records
        report["named_layer_metrics"] = named_layer_figures(args.workload, work, tracer, outcome, records)
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-s{args.seed}.json"))
        metrics = {k: {"value": v, "unit": LAYER_FIELDS[k[3:]]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    result_path = os.path.join(ROOT, ".perfbench_work",
                               f"result-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(result_path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} cpus={env['cpus']} "
          f"load={env['load_avg'][0]:.2f} steal={env['steal_s']:.1f}s "
          f"spark={pyspark.__version__} inputs={outcome.inputs}")
    for k, (v, u) in e2e.items():
        print(f"{args.workload:18s} {k:24s} {v:14.4f} {u}")
    print(f"{args.workload:18s} {'op_p50_samples':24s} {len(outcome.warm):14d}")
    print(f"{args.workload:18s} {'first_op_s':24s} {first_op_s:14.4f} s")
    for k, v in outcome.extra.items():
        if not isinstance(v, list):
            print(f"{args.workload:18s} {k:24s} {v:14.4f}")
    print(f"{args.workload:18s} {'peak_rss_mb':24s} {rss:14.4f} MiB")
    print(f"{args.workload:18s} {'failed_frac':24s} {failed / attempted:14.4f} "
          f"({failed} of {attempted} operations)")
    for op in outcome.ops:
        for p in op.problems:
            print(f"FAILED {op.kind} {op.name}: {p}")
    if args.trace:
        for k, v in report["named_layer_metrics"].items():
            print(f"{args.workload:18s} {k:32s} {v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
