"""``tools/sessions_digest.py``: a per-hour digest of a ``sessions/`` tree
that ignores row order and file layout but sees every row change."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

_spec = importlib.util.spec_from_file_location(
    "sessions_digest",
    Path(__file__).resolve().parent.parent / "tools" / "sessions_digest.py",
)
digest = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(digest)

ROWS = [
    {"event_time": f"2024-01-14 22:{m:02d}:00 UTC", "user_id": u,
     "price": 1.5 * m, "session_id": None if (u, m) == (3, 7) else f"s{u}"}
    for u in (1, 2, 3) for m in (0, 7, 41)
]


def write_tree(root: Path, chunks: list[list[dict]], hour: str = "22") -> str:
    part = root / "sessions" / "event_date=2024-01-14" / f"event_hour={hour}"
    os.makedirs(part)
    for i, rows in enumerate(chunks):
        pq.write_table(pa.Table.from_pylist(rows), part / f"part-{i:05d}.parquet")
    return str(root / "sessions")


def test_digest_ignores_row_order_and_file_split(tmp_path):
    one = write_tree(tmp_path / "a", [ROWS])
    split = write_tree(tmp_path / "b", [ROWS[5:][::-1], ROWS[:2], ROWS[2:5]])
    a, b = digest.tree_digest(one), digest.tree_digest(split)
    assert [r["files"] for r in a + b] == [1, 3]
    for r in a + b:
        r.pop("files")
    assert a == b
    assert a[0]["rows"] == 9 and a[0]["null_ids"] == 1
    assert (a[0]["event_date"], a[0]["event_hour"]) == ("2024-01-14", "22")


def test_digest_sees_a_changed_lost_or_duplicated_row(tmp_path):
    base = digest.tree_digest(write_tree(tmp_path / "base", [ROWS]))[0]["sha256"]
    changed = [dict(r) for r in ROWS]
    changed[4]["session_id"] = "other"
    variants = {"changed": [changed], "lost": [ROWS[1:]], "dup": [ROWS, ROWS[:1]]}
    for name, chunks in variants.items():
        got = digest.tree_digest(write_tree(tmp_path / name, chunks))[0]["sha256"]
        assert got != base, name


def test_cli_prints_one_line_per_hour_and_a_total(tmp_path, capsys):
    root = write_tree(tmp_path / "t", [ROWS])
    write_tree(tmp_path / "t", [ROWS[:3]], hour="23")
    assert digest.main([root, "--files"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split()[:3] for ln in lines[:2]] == [
        ["2024-01-14", "22", "rows=9"], ["2024-01-14", "23", "rows=3"]]
    assert lines[0].endswith("files=1")
    assert lines[2].startswith("total sha256=")
