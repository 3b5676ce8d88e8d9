"""Multi-range row restriction — the engine-side form of the r14 bench
discovery (VERDICT r14 Next #1): restricting a cell stream to the union
of N row-key bands as one 100-term ``OR`` filter costs O(N) predicate
evaluations per cell and dominated every range-scan workload at ~95% of
its runtime; the same restriction as a block-bucket **broadcast LEFT
SEMI hash join** (each cell hash-probes its key block and evaluates
only the 1-2 candidate bands sharing that block, with the band bounds
as the join residual) is O(1) per cell and measured 8x faster at sf0.1.

This module is that plan as a first-class engine operator, safe for
ARBITRARY row keys (the bench-private r14 helper bucketed via
``cast(row AS long)``, correct only for zero-padded numeric keys) by
order-preserving 56-bit prefix bucketing of str/bytes keys: strip the
common prefix of all band bounds (any row inside any band must share
it — a row differing from the common prefix at byte i sorts outside
[lo, hi) at byte i), take the next 7 bytes zero-padded as a big-endian
integer ``u`` (non-strictly monotone in key order), block = ``u div
block_size`` with block_size = the widest band's u-width, so every band
spans at most 2 blocks.  Monotonicity makes the enumerated blocks a
superset of any in-band row's block; the residual bounds keep the
result exact.  Zero-padded digit keys take the same path: a numeric
cast would bucket them no finer (each band spans at most 2 blocks
either way).

The physical shape is ``BroadcastHashJoin LeftSemi BuildRight`` on the
block id — never a nested loop, never a cartesian product (pinned in
tests/test_multirange.py).  A whole-row
restriction commutes with resolve (masking and version counting are
per-(row, family, qualifier)), so callers apply it BEFORE the resolve
exchange: the shuffle then carries only the touched bands — the plan
that holds at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: prefix bytes the bucketing reads: 7 bytes = 56 bits fits a
#: signed BIGINT through hex/conv with headroom
_PREFIX_BYTES = 7


def _common_prefix(bounds: list[bytes]) -> bytes:
    cp = bounds[0]
    for b in bounds[1:]:
        n = min(len(cp), len(b))
        i = 0
        while i < n and cp[i] == b[i]:
            i += 1
        cp = cp[:i]
        if not cp:
            break
    return cp


def _u_prefix(key: bytes, cp_len: int) -> int:
    """driver-side twin of the Catalyst u expression below — MUST agree
    byte for byte: big-endian int of the 7 bytes after the common
    prefix, right-padded with 0x00."""
    chunk = key[cp_len:cp_len + _PREFIX_BYTES]
    return int.from_bytes(chunk.ljust(_PREFIX_BYTES, b"\x00"), "big")


def restrict_row_ranges(
    cells: DataFrame,
    ranges: list,
    row_col: str = "row",
) -> DataFrame:
    """Restrict ``cells`` to the union of half-open row-key bands
    ``[lo, hi)`` — the multi-range analogue of a Scan's [start, stop).
    Every band must be bounded on both sides (an unbounded side defeats
    block enumeration; a SINGLE unbounded range needs no band machinery
    — a plain range filter pushes down to the scan).

    Result is schema-identical to ``cells`` and row-for-row equal to
    ``cells.filter(OR of (row >= lo) & (row < hi))`` — pinned by
    tests/test_multirange.py including overlap (left-semi: no
    duplicates), boundaries, and block-straddling bands."""
    if not ranges:
        return cells.filter(F.lit(False))
    for lo, hi in ranges:
        if lo is None or hi is None:
            raise ValueError(
                "restrict_row_ranges needs bounded bands; filter "
                "unbounded ranges directly (a single range predicate "
                "pushes down without band machinery)")
    spark = cells.sparkSession
    row = F.col(row_col)

    is_binary = dict(cells.dtypes)[row_col] != "string"

    def as_bytes(b):
        return b if isinstance(b, (bytes, bytearray)) else str(b).encode()

    cp = _common_prefix([as_bytes(b) for lo, hi in ranges for b in (lo, hi)])
    u_bounds = [
        (_u_prefix(as_bytes(lo), len(cp)), _u_prefix(as_bytes(hi), len(cp)))
        for lo, hi in ranges
    ]
    bs = max(1, max(uh - ul for ul, uh in u_bounds))
    rows = []
    for (lo, hi), (ul, uh) in zip(ranges, u_bounds):
        for blk in range(ul // bs, uh // bs + 1):
            rows.append((lo, hi, blk))
    schema = ("lo BINARY, hi BINARY, blk LONG" if is_binary
              else "lo STRING, hi STRING, blk LONG")
    bands_df = spark.createDataFrame(
        [(bytes(as_bytes(lo)), bytes(as_bytes(hi)), blk) if is_binary
         else (lo, hi, blk) for lo, hi, blk in rows], schema)
    src = f"`{row_col}`" if is_binary else f"CAST(`{row_col}` AS BINARY)"
    # Catalyst twin of _u_prefix: substring → rpad(0x00) → hex →
    # conv(16, 10); 7 bytes = 14 hex digits < 2^56, fits BIGINT
    blk_expr = F.expr(
        f"CAST(conv(hex(rpad(substring({src}, {len(cp) + 1}, "
        f"{_PREFIX_BYTES}), {_PREFIX_BYTES}, x'00')), 16, 10) AS BIGINT) "
        f"div {bs}L")

    cb = cells.withColumn("__blk", blk_expr)
    return cb.join(
        F.broadcast(bands_df),
        (cb["__blk"] == bands_df["blk"])
        & (row >= F.col("lo")) & (row < F.col("hi")),
        "left_semi",
    ).drop("__blk")
