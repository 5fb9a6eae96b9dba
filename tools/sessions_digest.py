"""Per-hour content digest of a ``sessions/`` tree.

For every ``event_date=*/event_hour=*`` partition it prints the row count,
the null ``session_id`` count and a SHA-256 over the partition's rows in
sorted order. The digest ignores row order and how rows are split into
files, so two runs that write the same rows with different file boundaries
(e.g. a range-partitioned write against a hash-partitioned one) compare
equal, and any changed, lost or duplicated row does not.

Usage::

    python tools/sessions_digest.py <base>/sessions            # one line per hour
    python tools/sessions_digest.py <base>/sessions --files    # plus files per hour

Diff the output of two trees to compare them; the last line is a digest of
all hours together. Reads with pyarrow only, no Spark.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def _partitions(root: str) -> list[tuple[str, str, str]]:
    """(event_date, event_hour, dir) for every hour partition, sorted."""
    out = []
    for d in sorted(os.listdir(root)):
        if not d.startswith("event_date="):
            continue
        for h in sorted(os.listdir(os.path.join(root, d))):
            if h.startswith("event_hour="):
                out.append((d.split("=", 1)[1], h.split("=", 1)[1], os.path.join(root, d, h)))
    return out


def _data_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def partition_digest(path: str) -> dict:
    """Row count, null session ids, files and SHA-256 of one partition dir."""
    rows, nulls = [], 0
    files = _data_files(path)
    for f in files:
        table = pq.read_table(f)
        nulls += table.column("session_id").null_count
        rows += [json.dumps(r, sort_keys=True, default=str) for r in table.to_pylist()]
    rows.sort()
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "null_ids": nulls, "files": len(files), "sha256": h.hexdigest()}


def tree_digest(root: str) -> list[dict]:
    """One ``partition_digest`` record per hour, keyed by date and hour."""
    return [
        {"event_date": d, "event_hour": h, **partition_digest(p)}
        for d, h, p in _partitions(root)
    ]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sessions", help="a sessions/ directory (hive-partitioned parquet)")
    ap.add_argument("--files", action="store_true",
                    help="also print the parquet file count per hour (not part of the digest)")
    args = ap.parse_args(argv)
    if not os.path.isdir(args.sessions):
        ap.error(f"not a directory: {args.sessions}")
    total = hashlib.sha256()
    for rec in tree_digest(args.sessions):
        line = (f"{rec['event_date']} {rec['event_hour']} rows={rec['rows']} "
                f"null_ids={rec['null_ids']} sha256={rec['sha256']}")
        total.update(line.encode() + b"\n")
        if args.files:
            line += f" files={rec['files']}"
        print(line)
    print(f"total sha256={total.hexdigest()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
