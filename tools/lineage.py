#!/usr/bin/env python3
"""Which source offsets landed in which snapshot, from a lake table's directory.

    python3 tools/lineage.py TABLE_DIR

Prints one line per epoch record in TABLE_DIR/_metrics/ (the
`graft.merge.MergeStats` files, `epoch-<ckptId>-<epochId>.json`), ordered
by snapshot version: the checkpoint id, the epoch id, the snapshot version
the epoch committed, the source range (start -> end] it consumed, its batch
rows and its commit time (UTC). Fold and maintenance records are skipped.

A streaming ingest's or `graft` sink's range is a pair of the query's
offset log entries, a change feed's a pair of upstream versions; `-` stands
for a null side (a query's first batch starts at its source's own starting
position; a writer without a source, such as a SQL INSERT, records none).
Epoch records written before the range existed print `-` as well.
"""

import json
import sys
from datetime import datetime, timezone
from pathlib import Path


def epoch_records(table_dir):
    metrics = Path(table_dir) / "_metrics"
    if not metrics.is_dir():
        sys.exit(f"no _metrics directory under {table_dir}")
    records = []
    for f in metrics.glob("epoch-*.json"):
        with open(f, encoding="utf-8") as fh:
            records.append(json.load(fh))
    return sorted(records, key=lambda r: (r["snapshotVersion"], r["ckptId"], r["epochId"]))


def when(ms):
    if not ms:
        return "-"
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).isoformat(timespec="milliseconds")


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    rows = [("ckptId", "epochId", "snapshot", "source (start -> end]", "batchRows", "committed")]
    for r in epoch_records(argv[1]):
        start, end = r.get("sourceStart"), r.get("sourceEnd")
        rows.append((r["ckptId"], str(r["epochId"]), str(r["snapshotVersion"]),
                     f"{start or '-'} -> {end or '-'}", str(r["batchRows"]),
                     when(r.get("commitTimeMs"))))
    widths = [max(len(row[i]) for row in rows) for i in range(len(rows[0]))]
    for row in rows:
        print("  ".join(c.ljust(w) for c, w in zip(row, widths)).rstrip())


if __name__ == "__main__":
    main(sys.argv)
