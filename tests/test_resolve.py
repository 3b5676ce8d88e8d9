"""Resolve-kernel unit suite — ports the semantics cases of the
reference's regionserver tests (TestScanDeleteTracker.java,
TestQueryMatcher.java, TestExplicitColumnTracker.java,
TestScanWildcardColumnTracker.java) and the version/delete matrices of
client/TestFromClientSide.java (testVersions:1031, testDeletes:1439,
testDuplicateVersions:2873)."""

import pytest

from hbase_snapshot_spark import resolve, ResolveSpec
from tests.cells import (
    cells_df,
    delete,
    delete_column,
    delete_family,
    put,
    visible_set,
)


def test_max_versions_default_latest_only(spark):
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "v10"),
        put("r1", "f", "q", 20, "v20"),
        put("r1", "f", "q", 30, "v30"),
    ])
    out = visible_set(resolve(df, max_versions=1))
    assert out == {("r1", "f", "q", 30, "v30")}


def test_max_versions_n(spark):
    df = cells_df(spark, [
        put("r1", "f", "q", t, f"v{t}") for t in (10, 20, 30, 40)
    ])
    out = visible_set(resolve(df, max_versions=3))
    assert out == {
        ("r1", "f", "q", 40, "v40"),
        ("r1", "f", "q", 30, "v30"),
        ("r1", "f", "q", 20, "v20"),
    }


def test_family_max_versions_caps_scan(spark):
    # Store.versionsToReturn:952 — effective = min(scan, family)
    df = cells_df(spark, [
        put("r1", "f", "q", t, f"v{t}") for t in (10, 20, 30)
    ])
    out = visible_set(resolve(df, max_versions=5, family_max_versions={"f": 2}))
    assert {v[3] for v in out} == {30, 20}


def test_all_versions_when_unbounded(spark):
    df = cells_df(spark, [
        put("r1", "f", "q", t, f"v{t}") for t in (10, 20, 30)
    ])
    assert len(visible_set(resolve(df, max_versions=None))) == 3


def test_duplicate_ts_newest_seq_wins(spark):
    # TestFromClientSide.testDuplicateVersions:2873 — same (r,f,q,ts)
    # rewritten: the later write (newer store file) wins.
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "old", seq=1),
        put("r1", "f", "q", 10, "new", seq=2),
    ])
    out = visible_set(resolve(df, max_versions=1))
    assert out == {("r1", "f", "q", 10, "new")}


def test_delete_exact_version(spark):
    # Delete (type 8) masks only the exact timestamp
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "v10"),
        put("r1", "f", "q", 20, "v20"),
        delete("r1", "f", "q", 20),
    ])
    out = visible_set(resolve(df, max_versions=3))
    assert out == {("r1", "f", "q", 10, "v10")}


def test_delete_same_ts_beats_put(spark):
    # KeyValue.java:1329 type-desc order: tombstone sorts first at equal ts,
    # so a put written AFTER the delete at the same ts stays masked.
    df = cells_df(spark, [
        delete("r1", "f", "q", 10, seq=1),
        put("r1", "f", "q", 10, "late", seq=2),
    ])
    assert visible_set(resolve(df, max_versions=3)) == set()


def test_delete_column_masks_at_or_before(spark):
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "v10"),
        put("r1", "f", "q", 20, "v20"),
        put("r1", "f", "q", 30, "v30"),
        delete_column("r1", "f", "q", 20),
    ])
    out = visible_set(resolve(df, max_versions=3))
    assert out == {("r1", "f", "q", 30, "v30")}


def test_delete_family_masks_all_qualifiers(spark):
    df = cells_df(spark, [
        put("r1", "f", "a", 10, "va"),
        put("r1", "f", "b", 15, "vb"),
        put("r1", "f", "b", 25, "vb25"),
        put("r1", "g", "a", 10, "ga"),
        delete_family("r1", "f", 20),
    ])
    out = visible_set(resolve(df, max_versions=3))
    assert out == {
        ("r1", "f", "b", 25, "vb25"),
        ("r1", "g", "a", 10, "ga"),
    }


def test_delete_other_row_unaffected(spark):
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "v1"),
        put("r2", "f", "q", 10, "v2"),
        delete_column("r1", "f", "q", 10),
    ])
    out = visible_set(resolve(df, max_versions=1))
    assert out == {("r2", "f", "q", 10, "v2")}


def test_version_counting_after_masking(spark):
    # masked versions do not consume maxVersions slots
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "v10"),
        put("r1", "f", "q", 20, "v20"),
        put("r1", "f", "q", 30, "v30"),
        delete("r1", "f", "q", 30),
    ])
    out = visible_set(resolve(df, max_versions=2))
    assert out == {("r1", "f", "q", 20, "v20"), ("r1", "f", "q", 10, "v10")}


def test_time_range_half_open(spark):
    # io/TimeRange.java:34 — [min, max)
    df = cells_df(spark, [
        put("r1", "f", "q", t, f"v{t}") for t in (10, 20, 30)
    ])
    out = visible_set(resolve(df, max_versions=None, time_range=(10, 30)))
    assert {v[3] for v in out} == {10, 20}


def test_delete_newer_than_time_range_still_masks(spark):
    # ScanQueryMatcher.java:157-168 withinOrAfterTimeRange — a tombstone
    # AFTER the queried range still masks cells inside the range.
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "v10"),
        delete_column("r1", "f", "q", 50),
    ])
    out = visible_set(resolve(df, max_versions=None, time_range=(0, 20)))
    assert out == set()


def test_delete_older_than_time_range_not_collected(spark):
    # withinOrAfterTimeRange is ts >= min: a tombstone BEFORE the range
    # is not tracked — cells inside the range survive.
    df = cells_df(spark, [
        put("r1", "f", "q", 30, "v30"),
        delete_column("r1", "f", "q", 10),
    ])
    out = visible_set(resolve(df, max_versions=None, time_range=(20, 40)))
    assert out == {("r1", "f", "q", 30, "v30")}


def test_version_counting_inside_time_range(spark):
    # versions are counted over the range-restricted stream: a newer
    # version outside the range does not consume a slot
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "v10"),
        put("r1", "f", "q", 20, "v20"),
        put("r1", "f", "q", 30, "v30"),
    ])
    out = visible_set(resolve(df, max_versions=1, time_range=(0, 25)))
    assert out == {("r1", "f", "q", 20, "v20")}


def test_ttl_expires_cells(spark):
    # family TTL 100s, now=200_000ms → cutoff ts 100_000
    df = cells_df(spark, [
        put("r1", "f", "q", 50_000, "old"),
        put("r1", "f", "q", 150_000, "new"),
    ])
    out = visible_set(resolve(df, max_versions=None, family_ttl={"f": 100}, now=200_000))
    assert out == {("r1", "f", "q", 150_000, "new")}


def test_expired_tombstone_does_not_mask(spark):
    # ScanQueryMatcher checks isExpired BEFORE delete tracking (:151-168)
    df = cells_df(spark, [
        put("r1", "f", "q", 150_000, "v"),
        delete_column("r1", "f", "q", 90_000),
    ])
    out = visible_set(resolve(df, max_versions=None, family_ttl={"f": 100}, now=200_000))
    assert out == {("r1", "f", "q", 150_000, "v")}


def test_family_projection_hides_tombstones_of_other_families(spark):
    df = cells_df(spark, [
        put("r1", "f", "q", 10, "vf"),
        put("r1", "g", "q", 10, "vg"),
        delete_family("r1", "g", 20),
    ])
    out = visible_set(resolve(df, max_versions=1, families=["f"]))
    assert out == {("r1", "f", "q", 10, "vf")}


def test_qualifier_projection_keeps_delete_tracking(spark):
    # projecting qualifier 'a' still honors a DeleteFamily tombstone
    df = cells_df(spark, [
        put("r1", "f", "a", 10, "va"),
        put("r1", "f", "b", 10, "vb"),
        delete_family("r1", "f", 15),
        put("r1", "f", "a", 20, "va20"),
    ])
    out = visible_set(resolve(df, max_versions=3, columns={"f": ["a"]}))
    assert out == {("r1", "f", "a", 20, "va20")}


def test_cell_filter_before_version_count(spark):
    # ScanQueryMatcher.java:182-187 — the filter must not let a discarded
    # newer version consume the maxVersions quota.
    from hbase_snapshot_spark.client import Scan, Table
    from hbase_snapshot_spark.filters import (
        BinaryComparator,
        CompareOp,
        ValueFilter,
    )

    df = cells_df(spark, [
        put("r1", "f", "q", 30, "skipme"),
        put("r1", "f", "q", 20, "keep20"),
        put("r1", "f", "q", 10, "keep10"),
    ])
    out = visible_set(Table(df).scan(Scan(
        max_versions=1,
        filter=ValueFilter(CompareOp.NOT_EQUAL, BinaryComparator("skipme")))))
    assert out == {("r1", "f", "q", 20, "keep20")}


def test_empty_input(spark):
    df = cells_df(spark, [put("r1", "f", "q", 1, "v")]).filter("ts < 0")
    assert visible_set(resolve(df, max_versions=1)) == set()


def test_binary_keys_unsigned_order(spark):
    # util/Bytes.java compareTo is unsigned lexicographic; Spark BinaryType
    # must agree (0x80 > 0x7f despite signed-byte Java semantics).
    from pyspark.sql import functions as F

    df = cells_df(spark, [
        put(b"\x7f", "f", b"q", 1, b"lo"),
        put(b"\x80", "f", b"q", 1, b"hi"),
    ], binary=True)
    out = resolve(df, max_versions=1).filter(F.col("row") > bytes([0x7f])).collect()
    assert len(out) == 1 and bytes(out[0].value) == b"hi"


def test_resolved_to_rows_duplicate_ts(spark):
    # same (row,f,q,ts) rewritten with a newer seq: the nested-map
    # materialization collapses to the newer value (TreeMap.put
    # overwrite) instead of crashing on duplicate map keys
    from hbase_snapshot_spark.resolve import resolved_to_rows

    df = cells_df(spark, [
        put("r1", "f", "q", 10, "old", seq=1),
        put("r1", "f", "q", 10, "new", seq=2),
    ])
    vis = resolve(df, max_versions=None)
    rows = resolved_to_rows(vis).collect()
    assert rows[0].families["f"]["q"] == {10: "new"}


def test_ttl_on_unscanned_family_ignored(spark):
    # a bounded TTL on family 'a' must not affect (or block) a scan that
    # only reads family 'b' — and no injected `now` is needed for it
    df = cells_df(spark, [
        put("r1", "a", "q", 10, "expired"),
        put("r1", "b", "q", 10, "kept"),
    ])
    out = resolve(df, spec=ResolveSpec(
        max_versions=1, families=["b"], family_ttl={"a": 60}
    ))
    assert visible_set(out) == {("r1", "b", "q", 10, "kept")}
