"""The hourly chain (``sessionize_hour``) against a pure-Python sweep, plus
the shape of its plan and output.

The differential test draws per-user timelines over 2-4 hours, divides them
into hourly ``logs/`` partitions, runs ``sessionize_hour`` over every hour in
order, and checks that the union of the ``sessions/`` partitions assigns each
event the reference id ``sha256("{user}-{yyyy-MM-dd HH:mm:ss}")`` of its
session's first event — so the hourly split and the carry-in lose nothing.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import tempfile
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.errors import AnalysisException

from commerce_sessionization_spark.operators.ingest import divide_file
import commerce_sessionization_spark.operators.sessionize as sessionize_mod
from commerce_sessionization_spark.operators.sessionize import sessionize_hour
from commerce_sessionization_spark.schemas import BEHAVIOR_SCHEMA, SESSION_SCHEMA
from commerce_sessionization_spark.sources.io import read_parquet

#: The chain's first hour; a 3- or 4-hour chain crosses midnight.
T0 = datetime(2024, 3, 9, 22)
GAP = 1800


@st.composite
def chains(draw):
    """(n_hours, {user: [second offsets from T0]}) with the boundary cases
    forced at a drawn hour boundary ``b`` and random users around them."""
    n_hours = draw(st.integers(min_value=2, max_value=4))
    end = n_hours * 3600
    b = draw(st.integers(min_value=1, max_value=n_hours - 1)) * 3600
    k = draw(st.integers(min_value=1, max_value=1799))
    window = draw(st.lists(st.integers(min_value=b - GAP, max_value=b - 1),
                           min_size=2, max_size=4, unique=True))
    last = max(window)
    users = {
        # the carrier sits exactly on the inclusive cutoff; its next event is
        # exactly 1800 s later, at the hour's first second
        1: [b - GAP, b],
        # 1800 s (continues) and 1801 s (splits) gaps across the boundary
        2: [b - k, b - k + GAP],
        3: [b - k, b - k + GAP + 1],
        # one session with several rows in the previous hour's last 30 min
        4: sorted(window) + [last + draw(st.integers(min_value=b - last, max_value=GAP))],
        # seen only in the previous hour, inside the carry window
        5: [b - draw(st.integers(min_value=1, max_value=GAP))],
    }
    gaps = st.lists(
        st.one_of(st.integers(min_value=0, max_value=2 * GAP),
                  st.sampled_from([GAP - 1, GAP, GAP + 1])),
        min_size=0, max_size=6,
    )
    for user in draw(st.lists(st.integers(min_value=6, max_value=12),
                              max_size=4, unique=True)):
        t = draw(st.integers(min_value=0, max_value=end - 1))
        offs = [t]
        for g in draw(gaps):
            if offs[-1] + g >= end:
                break
            offs.append(offs[-1] + g)
        users[user] = offs
    return n_hours, users


def reference_ids(users: dict[int, list[int]]) -> dict[tuple[int, int], str]:
    """(user, offset) → the sweep's session id: a gap > 1800 s starts a
    session, named after its first event."""
    out = {}
    for user, offs in users.items():
        start = prev = None
        for t in sorted(offs):
            if prev is None or t - prev > GAP:
                start = T0 + timedelta(seconds=t)
            prev = t
            out[(user, t)] = hashlib.sha256(
                f"{user}-{start:%Y-%m-%d %H:%M:%S}".encode()
            ).hexdigest()
    return out


def write_csv(path: str, rows: list[tuple[int, int]]) -> None:
    """One CSV line per (user, offset); ``product_id`` carries the row index."""
    with open(path, "w") as f:
        f.write("event_time,event_type,product_id,category_id,"
                "category_code,brand,price,user_id\n")
        for i, (user, t) in enumerate(rows):
            ts = T0 + timedelta(seconds=t)
            f.write(f"{ts:%Y-%m-%d %H:%M:%S} UTC,view,{i},1,c.a,b,1.0,{user}\n")


def run_chain(spark, base: str, n_hours: int) -> None:
    for i in range(n_hours):
        t = T0 + timedelta(hours=i)
        sessionize_hour(spark, t.strftime("%Y-%m-%d"), t.strftime("%H"), base)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(chain=chains())
def test_hourly_chain_matches_python_sweep(spark, tmp_path, chain):
    n_hours, users = chain
    rows = [(u, t) for u, offs in users.items() for t in offs]
    base = tempfile.mkdtemp(dir=tmp_path)
    write_csv(os.path.join(base, "raw.csv"), rows)
    divide_file(spark, os.path.join(base, "raw.csv"), base)
    run_chain(spark, base, n_hours)

    got = read_parquet(spark, f"{base}/sessions", SESSION_SCHEMA).collect()
    # every event exactly once: no carrier leaks into the next hour's output
    assert sorted(r.product_id for r in got) == list(range(len(rows)))
    want = reference_ids(users)
    for r in got:
        assert r.session_id == want[rows[r.product_id]], (r, rows[r.product_id])


# -- plan shape and output order ---------------------------------------------


@pytest.fixture(scope="module")
def two_hours(spark, tmp_path_factory):
    """Two hours of 20 users' events, written out of time order; hour 0 is
    already sessionized."""
    import random

    rnd = random.Random(7)
    base = str(tmp_path_factory.mktemp("chain_plan"))
    rows = [(rnd.randrange(20), rnd.randrange(2 * 3600)) for _ in range(400)]
    write_csv(os.path.join(base, "raw.csv"), rows)
    divide_file(spark, os.path.join(base, "raw.csv"), base)
    run_chain(spark, base, 1)
    return base


def test_hour_plan_has_one_user_exchange(spark, two_hours):
    t = T0 + timedelta(hours=1)
    df = sessionize_hour(spark, t.strftime("%Y-%m-%d"), t.strftime("%H"),
                         two_hours, write=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange \w+\([^)]*", plan)
    assert len(exchanges) == 1 and exchanges[0].startswith(
        "Exchange hashpartitioning(user_id"), plan
    assert "rangepartitioning" not in plan, plan
    assert not re.search(r"windowspecdefinition\(session_id", plan), plan


def test_hour_files_are_time_ordered(spark, two_hours):
    run_chain(spark, two_hours, 2)
    t = T0 + timedelta(hours=1)
    files = glob.glob(os.path.join(
        two_hours, "sessions", f"event_date={t:%Y-%m-%d}", f"event_hour={t:%H}",
        "*.parquet"))
    assert files
    n = 0
    for f in files:
        times = pq.read_table(f, columns=["event_time"]).column("event_time").to_pylist()
        assert times == sorted(times), f
        n += len(times)
    logs = read_parquet(spark, f"{two_hours}/logs", BEHAVIOR_SCHEMA).filter(
        f"event_date = '{t:%Y-%m-%d}' AND event_hour = '{t:%H}'")
    assert n == logs.count()


# -- the carry-in read fails loudly --------------------------------------------


@pytest.mark.parametrize("error", [
    AnalysisException(message="unreadable", errorClass="UNABLE_TO_INFER_SCHEMA",
                      messageParameters={"format": "Parquet"}),
    PermissionError("sessions/ is not readable"),
])
def test_carry_in_read_errors_propagate(spark, two_hours, monkeypatch, error):
    """Only a missing ``sessions/`` tree means "no carry-in"; any other read
    error must stop the hour instead of minting fresh ids for open sessions."""
    real = sessionize_mod.read_parquet

    def reader(spark_, path, schema):
        if path.endswith("/sessions"):
            raise error
        return real(spark_, path, schema)

    monkeypatch.setattr(sessionize_mod, "read_parquet", reader)
    t = T0 + timedelta(hours=1)
    with pytest.raises(type(error)):
        sessionize_hour(spark, t.strftime("%Y-%m-%d"), t.strftime("%H"), two_hours,
                        write=False)
