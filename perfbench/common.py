"""Pieces shared by the workloads: the run context, the op log, and
byte accounting for write and space amplification."""

from __future__ import annotations

import os
import threading
import time
import traceback
from dataclasses import dataclass, field

from measure import median


@dataclass
class Context:
    spark: object
    workdir: str
    seed: int
    seconds: float
    trace: bool
    tracer: object
    counters: object
    nproc: int


@dataclass
class OpLog:
    """Completed ops (kind, read/write class, seconds, ok) and errors."""

    ops: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def timed(self, op_id: str, kind: str, cls: str, fn):
        """Run ``fn`` and log it; returns (ok, result)."""
        t = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception as e:  # an op failure is counted, not fatal
            out, ok = None, False
            with self.lock:
                self.errors.append(f"{op_id} {kind}: {type(e).__name__}: {e}")
                self.errors.append(traceback.format_exc(limit=4))
        s = time.perf_counter() - t
        with self.lock:
            self.ops.append({"kind": kind, "cls": cls, "s": s, "ok": ok})
        return ok, out


def cells_table(cells: list[tuple]):
    """(row, family, qualifier, ts, type, seq, value) tuples as an Arrow
    table with the engine's string cell schema."""
    import pyarrow as pa

    cols = list(zip(*cells)) if cells else [()] * 7
    return pa.table({
        "row": pa.array(cols[0], pa.string()),
        "family": pa.array(cols[1], pa.string()),
        "qualifier": pa.array(cols[2], pa.string()),
        "ts": pa.array(cols[3], pa.int64()),
        "type": pa.array(cols[4], pa.int32()),
        "seq": pa.array(cols[5], pa.int64()),
        "value": pa.array(cols[6], pa.string()),
    })


def write_cells(path: str, cells: list[tuple]) -> int:
    """Write cells as one parquet file; returns their decoded (Arrow) size."""
    import pyarrow.parquet as pq

    tbl = cells_table(cells)
    pq.write_table(tbl, path)
    return tbl.nbytes


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def head_segment_bytes(table) -> int:
    return sum(tree_bytes(os.path.join(table.dir, "segments", s))
               for s in table.manifest()["segments"])


def head_parquet_files(table) -> list[str]:
    """Paths of the parquet files of the table's HEAD segments."""
    return [os.path.join(r, f)
            for s in table.manifest()["segments"]
            for r, _d, fs in os.walk(os.path.join(table.dir, "segments", s))
            for f in fs if f.endswith(".parquet")]


def head_files(table) -> int:
    return len(head_parquet_files(table))


def cell_bytes(row, family, qualifier, value) -> int:
    """Logical size of one cell: key parts, an 8-byte ts, the value."""
    return (len(row) + len(family) + len(qualifier or "") + 8
            + len(value or ""))


def p50_ms(values) -> float:
    return median(values) * 1000 if values else 0.0


def check(checks: list, name: str, ok: bool, detail: str = "") -> None:
    checks.append({"name": name, "ok": bool(ok), "detail": detail})
