"""The engine's first-class multi-range row restriction
(plans/multirange.restrict_row_ranges + StoredTable.scan_ranges) — the
r15 promotion of the old benchmark harness's r14 band semi-join
(VERDICT r14 Next #1).

Pins, covering every case of that harness's band tests and extended to
the arbitrary keys the harness-private helper lacked:

* row-for-row parity with the OR-of-bands predicate it replaces —
  disjoint, overlapping (left-semi: no duplicates), boundary
  (closed lo / open hi), and block-straddling bands — on zero-padded
  digit keys;
* digit-key bands keep odd keys (wrong length, non-digit suffix) that
  fall lexicographically inside a band;
* arbitrary-width string keys and BINARY keys, exact parity via the
  order-preserving 7-byte prefix buckets;
* plan shape for digit and general keys: BroadcastHashJoin LeftSemi
  on the block id — never BroadcastNestedLoopJoin / CartesianProduct
  (the O(cells x bands) shape the operator exists to avoid);
* StoredTable.scan_ranges == resolve(full cells filtered by the OR).
"""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hbase_snapshot_spark.plans.multirange import restrict_row_ranges


def _mk_cells(spark, n=500, versions=2, key=lambda i: f"{i:012d}"):
    rows = []
    for i in range(n):
        for v in range(versions):
            rows.append((key(i), "o", "c", 100 + v, 4, f"v{i}.{v}"))
    return spark.createDataFrame(
        rows, "row STRING, family STRING, qualifier STRING, ts LONG, "
              "type INT, value STRING")


def _or_pred(bands):
    pred = None
    for lo, hi in bands:
        p = (F.col("row") >= F.lit(lo)) & (F.col("row") < F.lit(hi))
        pred = p if pred is None else (pred | p)
    return pred


def _assert_same(cells, bands):
    got = restrict_row_ranges(cells, bands)
    want = cells.filter(_or_pred(bands))
    assert got.columns == cells.columns
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w, (len(g), len(w))


# ------------------------------------------------------ digit keys

def test_numeric_disjoint(spark):
    cells = _mk_cells(spark)
    bands = [(f"{s:012d}", f"{s + 10:012d}") for s in (5, 120, 300, 490)]
    _assert_same(cells, bands)


def test_numeric_overlapping_no_duplicates(spark):
    cells = _mk_cells(spark)
    bands = [(f"{s:012d}", f"{s + 30:012d}") for s in (100, 105, 110, 118)]
    got = restrict_row_ranges(cells, bands)
    # 48 distinct rows x 2 versions, each exactly once (no join dup)
    assert got.count() == 96
    assert got.select("row", "ts").distinct().count() == 96
    _assert_same(cells, bands)


def test_numeric_boundaries_closed_lo_open_hi(spark):
    cells = _mk_cells(spark, n=50, versions=1)
    bands = [("000000000010", "000000000020")]
    got = restrict_row_ranges(cells, bands)
    rows = sorted(r["row"] for r in got.collect())
    assert rows == [f"{i:012d}" for i in range(10, 20)]


def test_numeric_sentinel_keeps_nonconforming_keys(spark):
    # odd keys (wrong width / non-digit) that sort INSIDE a digit-key
    # band must still be returned — the r14 bench helper's numeric cast
    # silently dropped them (null block), the engine operator must not
    rows = [("000000000012", "o", "c", 1, 4, "a"),
            ("00000000001", "o", "c", 1, 4, "short"),      # width 11
            ("00000000001x", "o", "c", 1, 4, "nondigit"),  # cast null
            ("0000000000123", "o", "c", 1, 4, "long13"),   # width 13
            ("000000000030", "o", "c", 1, 4, "outside")]
    cells = spark.createDataFrame(
        rows, "row STRING, family STRING, qualifier STRING, ts LONG, "
              "type INT, value STRING")
    bands = [("000000000010", "000000000020")]
    _assert_same(cells, bands)
    got = {r["value"] for r in restrict_row_ranges(cells, bands).collect()}
    assert got == {"a", "nondigit", "long13"}  # lexicographic membership


# ---------------------------------------------------- general keys

def test_general_string_keys(spark):
    cells = _mk_cells(spark, n=400, versions=1, key=lambda i: f"user-{i}")
    # mixed-width keys ("user-5" vs "user-399") force the general path
    bands = [("user-10", "user-2"), ("user-35", "user-36"),
             ("user-399", "user-4")]
    _assert_same(cells, bands)


def test_general_no_common_prefix(spark):
    cells = _mk_cells(spark, n=200, versions=1,
                      key=lambda i: chr(ord("a") + i % 26) + f"{i:06d}")
    bands = [("a", "c"), ("x", "z")]
    _assert_same(cells, bands)


def test_general_binary_keys(spark):
    rows = [(bytes([i, 255 - i, i % 7]), "o", "c", 1, 4, str(i))
            for i in range(200)]
    cells = spark.createDataFrame(
        rows, "row BINARY, family STRING, qualifier STRING, ts LONG, "
              "type INT, value STRING")
    bands = [(bytes([10]), bytes([20])), (bytes([100, 50]), bytes([130]))]
    got = restrict_row_ranges(cells, bands)
    pred = None
    for lo, hi in bands:
        p = (F.col("row") >= F.lit(lo)) & (F.col("row") < F.lit(hi))
        pred = p if pred is None else (pred | p)
    want = cells.filter(pred)
    g = sorted((bytes(r["row"]), r["value"]) for r in got.collect())
    w = sorted((bytes(r["row"]), r["value"]) for r in want.collect())
    assert g == w and g, (len(g), len(w))


# ---------------------------------------------------------- plan + API

def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_plan_is_broadcast_hash_semi_join_both_paths(spark):
    numeric = _mk_cells(spark, n=100, versions=1)
    general = _mk_cells(spark, n=100, versions=1, key=lambda i: f"k-{i}")
    for cells, bands in (
        (numeric, [(f"{s:012d}", f"{s + 10:012d}") for s in (5, 50)]),
        (general, [("k-10", "k-2"), ("k-50", "k-6")]),
    ):
        plan = _plan_of(restrict_row_ranges(cells, bands))
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_empty_and_unbounded_ranges(spark):
    cells = _mk_cells(spark, n=10, versions=1)
    assert restrict_row_ranges(cells, []).count() == 0
    import pytest

    with pytest.raises(ValueError):
        restrict_row_ranges(cells, [(None, "000000000005")])
    with pytest.raises(ValueError):
        restrict_row_ranges(cells, [("000000000005", None)])


def test_stored_table_scan_ranges(spark, tmp_path):
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.resolve import ResolveSpec, resolve
    from hbase_snapshot_spark.table import TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("mr").add_family(FamilyDescriptor("o",
                                                          max_versions=2)))
    cells = _mk_cells(spark, n=300, versions=3)
    t.append_cells(cells)
    bands = [(f"{s:012d}", f"{s + 15:012d}") for s in (7, 40, 250, 290)]
    got = t.scan_ranges(bands, spec=ResolveSpec(max_versions=1))
    # oracle: resolve the FULL stream under the same descriptor-composed
    # spec, then apply the OR band predicate
    want = t.read(spec=ResolveSpec(max_versions=1)).filter(_or_pred(bands))
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and g, (len(g), len(w))
    # descriptor maxVersions cap must have applied through scan_ranges
    assert t.scan_ranges(bands).select("row", "ts").count() == \
        t.read().filter(_or_pred(bands)).select("row", "ts").count()
