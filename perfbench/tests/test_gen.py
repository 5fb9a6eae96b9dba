"""The generator: deterministic per seed, and the input properties the
workloads rely on are present."""

import filecmp
from datetime import datetime

import numpy as np

import gen
import reference

SHAPE = gen.Shape(start=datetime(2024, 1, 14, 22), hours=3, events_per_hour=3000,
                  users=2000)


def _write_all(ev, out, seed):
    out.mkdir()
    gen.write_csv(ev, str(out / "raw.csv"), seed)
    gen.write_stream_drops(ev, str(out / "drops"), seed)
    gen.write_events_table(ev, str(out / "tables"))


def test_same_seed_same_inputs(tmp_path):
    a, b = gen.make_events(SHAPE, 7), gen.make_events(SHAPE, 7)
    assert a.equals(b)
    _write_all(a, tmp_path / "a", 7)
    _write_all(b, tmp_path / "b", 7)
    for rel in ("raw.csv", "tables/events.parquet", "drops/drop-0000.parquet",
                "drops/drop-0002.parquet"):
        assert filecmp.cmp(tmp_path / "a" / rel, tmp_path / "b" / rel, shallow=False), rel


def test_other_seed_other_inputs():
    a, b = gen.make_events(SHAPE, 7), gen.make_events(SHAPE, 8)
    assert not a[["ts", "user_id"]].equals(b[["ts", "user_id"]])


def test_inputs_cover_the_session_rule_edges():
    ev = gen.make_events(SHAPE, 7)
    ev = ev.sort_values(["user_id", "ts"], kind="mergesort")
    same_user = ev["user_id"].to_numpy()[1:] == ev["user_id"].to_numpy()[:-1]
    gaps = np.diff(ev["ts"].to_numpy())[same_user]
    assert (gaps == 1800).any() and (gaps == 1801).any()

    sw = reference.sweep(ev)
    props = gen.input_properties(ev, sw)
    assert props["hours"] == 3
    assert 2500 < props["events_per_hour"] < 3500
    assert props["carried_event_share"] > 0.05  # sessions cross hour boundaries
    assert sw["stream_id"].value_counts().max() > 1  # multi-event sessions
    # Zipf skew: the hottest user far above a uniform share
    assert props["hottest_user_share"] > 10 / props["users_per_hour"]


def test_rank_sample_keeps_whole_users():
    ev = gen.make_events(SHAPE, 7)
    sample = ev[(ev["user_rank"] + 1) % 4 == 0]
    assert set(sample["user_id"]).isdisjoint(set(ev.drop(sample.index)["user_id"]))
