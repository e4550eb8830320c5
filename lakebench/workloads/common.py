"""Helpers the workloads share: drained aggregates and written-file accounting."""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PassResult:
    files: int  # data and delete files written by the pass
    stored_bytes: int  # bytes under the pass's table directories at pass end
    live_rows: int  # rows live at pass end, from the model
    counts: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)


def agg3(df: DataFrame) -> tuple[int, int, int]:
    """(rows, sum of id, sum of value2): drains a mock_dataset-shaped read."""
    r = df.agg(F.count("*"), F.sum("id"), F.sum("value2")).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def path_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Written:
    """Files and bytes the pass's write operations committed, per operation.

    Sizes are read right after each commit: compaction and expiry delete
    files later in the pass."""

    def __init__(self) -> None:
        self.files = 0
        self.bytes = 0
        self.commits = 0
        self.bytes_by_op: Counter[str] = Counter()
        self.removed: Counter[str] = Counter()

    def add(self, op: str, out, data: bool = True):
        """Account the snapshot(s) an operation returned; ``data=False`` for
        metadata-only commits that register files written elsewhere."""
        if out is None:
            return None
        for snap in out if isinstance(out, list) else [out]:
            self.commits += 1
            if not data:
                continue
            paths = [f["path"] for f in snap.added_files] + [d["path"] for d in snap.added_deletes]
            size = sum(os.path.getsize(p) for p in paths)
            self.files += len(paths)
            self.bytes += size
            self.bytes_by_op[op] += size
            self.removed[op] += len(snap.removed_paths)
        return out

    def counts(self) -> dict[str, float]:
        return {
            "lakehouse.log.commits": float(self.commits),
            "lakehouse.table.files_written": float(self.files),
            "lakehouse.table.bytes_written": float(self.bytes),
        }
