"""Storage + mutation + snapshot tests — ports the semantics of
regionserver/TestHRegion.java (put/delete/ICV/checkAndMutate),
TestHRegionSnapshot.java (testSnapshot:111,
testCompactionAfterSnapshot:269) and master/TestSnapshot.java."""

import os

import pytest

from pyspark.sql import functions as F

from hbase_snapshot_spark.client import Get, Scan
from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
from hbase_snapshot_spark.table import (
    Delete,
    Put,
    TableExistsError,
    TableNotFoundError,
    TableStore,
)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "tables"))


def _desc(name="t1"):
    return (
        TableDescriptor(name)
        .add_family(FamilyDescriptor("f", max_versions=3))
        .add_family(FamilyDescriptor("g", max_versions=1))
    )


def _mk(store, name="t1"):
    return store.create_table(_desc(name))


def cellset(df):
    return {(r.row, r.family, r.qualifier, r.ts, r.value) for r in df.collect()}


def proven_delete_free(cl, scan=None):
    """whether the client's cell selection for an unbounded ``scan``
    carries the footer-stat delete-free proof"""
    return cl._select(cl._spec(scan or Scan()), [])[1].no_tombstones


def test_create_list_drop(store):
    _mk(store, "a")
    _mk(store, "b")
    assert store.list_tables() == ["a", "b"]
    with pytest.raises(TableExistsError):
        _mk(store, "a")
    store.drop_table("a")
    assert store.list_tables() == ["b"]
    with pytest.raises(TableNotFoundError):
        store.table("a")


def test_put_and_read(store):
    t = _mk(store)
    t.mutate([
        Put("r1").add("f", "q", "v1", ts=100),
        Put("r2").add("f", "q", "v2", ts=100).add("g", "q", "g2", ts=100),
    ])
    got = cellset(t.read())
    assert got == {
        ("r1", "f", "q", 100, "v1"),
        ("r2", "f", "q", 100, "v2"),
        ("r2", "g", "q", 100, "g2"),
    }


def test_put_versions_and_family_cap(store):
    t = _mk(store)
    for i, ts in enumerate([10, 20, 30, 40]):
        t.mutate([Put("r1").add("f", "q", f"v{ts}", ts=ts).add("g", "q", f"g{ts}", ts=ts)])
    vis = t.read()
    # family f: maxVersions=3 → 20,30,40; family g: maxVersions=1 → 40
    assert {r.ts for r in vis.filter("family='f'").collect()} == {20, 30, 40}
    assert {r.ts for r in vis.filter("family='g'").collect()} == {40}


def test_delete_row_expands_to_families(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v", ts=100).add("g", "q", "v", ts=100)])
    t.mutate([Delete("r1")], now=200)
    assert cellset(t.read()) == set()


def test_delete_column_latest_when_no_ts(store):
    # Delete.deleteColumn:213 — no ts ⇒ delete the LATEST version only
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v10", ts=10)])
    t.mutate([Put("r1").add("f", "q", "v20", ts=20)])
    t.mutate([Delete("r1").delete_column("f", "q")], now=100)
    got = cellset(t.read())
    assert got == {("r1", "f", "q", 10, "v10")}


def test_delete_columns_at_or_before(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v10", ts=10)])
    t.mutate([Put("r1").add("f", "q", "v20", ts=20)])
    t.mutate([Delete("r1").delete_columns("f", "q", ts=15)])
    assert cellset(t.read()) == {("r1", "f", "q", 20, "v20")}


def test_duplicate_ts_last_write_wins_across_commits(store):
    # TestFromClientSide.testDuplicateVersions:2873 — same (r,f,q,ts)
    # written twice: the later commit is the newer "store file" and
    # REPLACES the older cell (MemStore SkipListMap put-overwrite,
    # KeyValueSkipListSet.java:157-159): a rewrite consumes one version
    # slot and only the newest value is visible at ANY maxVersions
    # (testDuplicateVersions:2984 — VALUES[14] replaces VALUES[4] and
    # maxVersions=7 still reaches STAMPS[2]).
    from hbase_snapshot_spark.resolve import ResolveSpec

    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "first", ts=10)])
    t.mutate([Put("r1").add("f", "q", "second", ts=10)])
    assert cellset(t.read(spec=ResolveSpec(max_versions=1))) == {
        ("r1", "f", "q", 10, "second")
    }
    assert {r.value for r in t.read().collect()} == {"second"}


def test_check_and_put(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "old", ts=10)])
    ok = t.check_and_put("r1", "f", "q", "old", Put("r1").add("f", "q", "new", ts=20))
    assert ok
    assert not t.check_and_put("r1", "f", "q", "old", Put("r1").add("f", "q", "x", ts=30))
    assert cellset(t.read().filter("ts >= 20")) == {("r1", "f", "q", 20, "new")}


def test_check_and_put_absent(store):
    t = _mk(store)
    assert t.check_and_put("r9", "f", "q", None, Put("r9").add("f", "q", "v", ts=10))
    assert cellset(t.read()) == {("r9", "f", "q", 10, "v")}


def test_increment(store):
    t = _mk(store)
    assert t.increment_column_value("r1", "f", "ctr", 5, now=10) == 5
    assert t.increment_column_value("r1", "f", "ctr", 37, now=20) == 42
    assert t.increment_column_value("r1", "f", "ctr", -2, now=30) == 40
    latest = t.client().get(Get("r1", columns={"f": ["ctr"]}))
    assert [r.value for r in latest.collect()] == ["40"]


def test_mvcc_version_pinning(store):
    # ReadWriteConsistencyControl — a reader at version V never sees
    # later commits
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    v1 = t.manifest()["version"]
    t.mutate([Put("r1").add("f", "q", "v2", ts=20)])
    assert cellset(t.read(version=v1)) == {("r1", "f", "q", 10, "v1")}
    assert {r.value for r in t.read().collect()} == {"v1", "v2"}


def test_compact_minor_keeps_everything(store):
    # MinorCompactingStoreScanner is a pure merge: masked puts AND
    # tombstones both survive a minor compaction
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v10", ts=10)])
    t.mutate([Delete("r1").delete_columns("f", "q", ts=15)])
    t.compact(major=False)
    m = t.manifest()
    assert len(m["segments"]) == 1
    types = sorted(r.type for r in t.cells().collect())
    assert types == [4, 12]
    assert cellset(t.read()) == set()


def test_compact_major_purges(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v10", ts=10)])
    t.mutate([Put("r1").add("f", "q", "v20", ts=20)])
    t.mutate([Delete("r1").delete_columns("f", "q", ts=10)])
    t.compact(major=True)
    cells = t.cells().collect()
    assert [(r.row, r.ts, r.type) for r in cells] == [("r1", 20, 4)]


def test_compact_major_respects_family_versions(store):
    t = _mk(store)
    for ts in (10, 20, 30, 40):
        t.mutate([Put("r1").add("g", "q", f"v{ts}", ts=ts)])
    t.compact(major=True)  # family g: maxVersions=1
    assert [(r.ts) for r in t.cells().collect()] == [40]


def test_snapshot_restore(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.snapshot("snap1")
    t.mutate([Put("r1").add("f", "q", "v2", ts=20)])
    t.mutate([Delete("r2")])
    assert t.list_snapshots() == ["snap1"]
    t.restore_snapshot("snap1")
    assert cellset(t.read()) == {("r1", "f", "q", 10, "v1")}


def test_snapshot_protects_from_vacuum_after_compaction(store):
    # TestHRegionSnapshot.testCompactionAfterSnapshot:269 — compaction
    # must not delete files a snapshot references
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.snapshot("s")
    snap_segs = set(t.snapshot_manifest("s")["segments"])
    t.mutate([Put("r1").add("f", "q", "v2", ts=20)])
    t.compact(major=True)
    removed = t.vacuum()
    seg_dir = os.path.join(t.dir, "segments")
    for seg in snap_segs:
        assert os.path.isdir(os.path.join(seg_dir, seg)), "snapshot seg vacuumed!"
    assert all(seg not in snap_segs for seg in removed)
    # restoring the snapshot after compaction+vacuum still works
    t.restore_snapshot("s")
    assert cellset(t.read()) == {("r1", "f", "q", 10, "v1")}


def test_delete_snapshot_then_vacuum_reclaims(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.snapshot("s")
    old_segs = set(t.manifest()["segments"])
    t.compact(major=True)
    t.delete_snapshot("s")
    removed = set(t.vacuum())
    assert old_segs <= removed


def test_export_import_snapshot(store, spark, tmp_path):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.snapshot("s")
    other = TableStore(spark, str(tmp_path / "other"))
    t2 = t.clone_to(other, "t1_restored", "s")
    assert cellset(t2.read()) == {("r1", "f", "q", 10, "v1")}
    # the clone is independent: mutating the source doesn't affect it
    t.mutate([Put("r1").add("f", "q", "v2", ts=20)])
    assert cellset(t2.read()) == {("r1", "f", "q", 10, "v1")}


def test_scan_over_stored_table(store):
    t = _mk(store)
    t.mutate([
        Put("a").add("f", "q", "1", ts=10),
        Put("b").add("f", "q", "2", ts=10),
        Put("c").add("f", "q", "3", ts=10),
    ])
    out = t.client().scan(Scan(start_row="a", stop_row="c"))
    assert {r.row for r in out.collect()} == {"a", "b"}


def test_increment_binary_big_endian(spark, tmp_path):
    # F3 corpus: counters on a binary table use the 8-byte big-endian
    # codec (HRegion.incrementColumnValue:3126 reads Bytes.toLong)
    from hbase_snapshot_spark import bytes_util

    store = TableStore(spark, str(tmp_path / "bin"))
    t = store.create_table(
        TableDescriptor("c").add_family(FamilyDescriptor("cnt")), binary=True
    )
    assert t.increment_column_value(b"r1", "cnt", b"hits", 5, now=10) == 5
    assert t.increment_column_value(b"r1", "cnt", b"hits", -8, now=20) == -3
    cur = t._latest_cell(b"r1", "cnt", b"hits")
    assert bytes_util.to_long(bytes(cur.value)) == -3


def test_empty_qualifier_is_a_valid_column(spark, tmp_path):
    # TestFromClientSide.testNull:923 — empty qualifier ≠ missing column
    from hbase_snapshot_spark.client import Get

    store = TableStore(spark, str(tmp_path / "eq"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    t.mutate([Put("r1").add("f", "", "empty-qual", ts=10),
              Put("r1").add("f", "q", "named-qual", ts=10)])
    out = t.client().get(Get("r1", columns={"f": [""]}))
    assert [(r.qualifier, r.value) for r in out.collect()] == [("", "empty-qual")]
    d = Delete("r1")
    d.delete_columns("f", "", ts=50)
    t.mutate([d])
    vals = {r.value for r in t.read().collect()}
    assert vals == {"named-qual"}


def test_readonly_table_rejects_writes(spark, tmp_path):
    # HTableDescriptor READONLY attr
    store = TableStore(spark, str(tmp_path / "ro"))
    desc = TableDescriptor("t").add_family(FamilyDescriptor("f"))
    desc.readonly = True
    t = store.create_table(desc)
    with pytest.raises(PermissionError):
        t.mutate([Put("r1").add("f", "q", "v", ts=10)])


def test_result_getmap_materialization(store):
    # Result.getMap (Result.java:168): row → family → qualifier → ts → value
    from hbase_snapshot_spark.resolve import resolved_to_rows

    t = _mk(store)
    t.mutate([Put("r1").add("f", "a", "v1", ts=10).add("f", "a", "v2", ts=20)
             .add("g", "b", "x", ts=10)])
    nested = resolved_to_rows(t.read()).collect()
    assert len(nested) == 1
    fam_map = nested[0].families
    assert fam_map["f"]["a"] == {10: "v1", 20: "v2"}
    assert fam_map["g"]["b"] == {10: "x"}


def test_concurrent_writers_serialize(spark, tmp_path):
    # single-writer lock: concurrent increments never lose updates
    import threading

    store = TableStore(spark, str(tmp_path / "conc"))
    t = store.create_table(TableDescriptor("c").add_family(FamilyDescriptor("f")))
    t.mutate([Put("r1").add("f", "n", "0", ts=1)])
    errs = []

    def worker(i):
        try:
            # each thread gets its OWN table handle (own lock state);
            # ICV uses server time like the reference (explicit
            # out-of-order timestamps would legitimately shadow writes)
            h = store.table("c")
            h.increment_column_value("r1", "f", "n", 1)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    cur = t._latest_cell("r1", "f", "n")
    assert int(cur.value) == 4


def test_sql_view_over_engine(store, spark):
    # the whole engine is reachable from spark.sql via resolved views
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10),
              Put("r2").add("f", "q", "v2", ts=10)])
    t.mutate([Delete("r1")], now=50)
    t.create_view("t1_view")
    out = spark.sql(
        "SELECT row, value FROM t1_view WHERE family = 'f' ORDER BY row"
    ).collect()
    assert [(r.row, r.value) for r in out] == [("r2", "v2")]
    spark.catalog.dropTempView("t1_view")


def test_maybe_compact_threshold(store):
    # Store.java:169 — compaction triggers at the segment threshold
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "a", ts=10)])
    assert t.maybe_compact(threshold=3) is None
    t.mutate([Put("r1").add("f", "q", "b", ts=20)])
    t.mutate([Put("r1").add("f", "q", "c", ts=30)])
    assert t.maybe_compact(threshold=3) is not None
    assert len(t.manifest()["segments"]) == 1
    assert {r.value for r in t.read().collect()} == {"a", "b", "c"}


def test_history_time_travel(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "a", ts=10)])
    t.mutate([Put("r1").add("f", "q", "b", ts=20)])
    h = t.history()
    assert [e["version"] for e in h] == [2, 1, 0]
    assert h[0]["n_segments"] == 2


def test_orphan_segment_recovery(store):
    # a crash between segment write and manifest commit leaves an orphan
    # parquet dir; it is invisible to reads and reclaimed by vacuum
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v", ts=10)])
    orphan = os.path.join(t.dir, "segments", "seg-999999-orphan")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not really parquet")
    assert cellset(t.read()) == {("r1", "f", "q", 10, "v")}  # unaffected
    removed = t.vacuum()
    assert "seg-999999-orphan" in removed
    assert not os.path.exists(orphan)


def test_alter_changes_read_semantics(store):
    # shell `alter` / HBaseAdmin.modifyTable: tightening family
    # maxVersions takes effect on the next read, data untouched
    t = _mk(store)
    for ts in (10, 20, 30):
        t.mutate([Put("r1").add("f", "q", f"v{ts}", ts=ts)])
    assert len(t.read().collect()) == 3  # f allows 3 versions
    desc = t.descriptor
    desc.family("f").max_versions = 1
    t.alter(desc)
    assert [(r.ts, r.value) for r in t.read().collect()] == [(30, "v30")]
    assert t.cells().count() == 3  # raw data untouched until compaction


def test_batch_latest_delete_single_job(spark, tmp_path):
    # Delete.deleteColumn with no ts resolves "latest version" — a batch
    # of 100 must do ONE resolve job, not one per cell
    store = TableStore(spark, str(tmp_path / "bd"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    t.mutate([Put(f"r{i:03d}").add("f", "q", "v", ts=10) for i in range(100)])
    sc = spark.sparkContext
    sc.setJobGroup("latest-deletes", "batched latest-ts resolution")
    try:
        t.mutate([Delete(f"r{i:03d}").delete_column("f", "q") for i in range(100)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("latest-deletes")
    # one resolve+collect (a few AQE stage jobs) + one segment write —
    # two orders of magnitude under the old per-cell path
    assert 0 < len(jobs) <= 8
    assert t.read().count() == 0


def test_multiple_timestamps_matrix(spark, tmp_path):
    # client/TestMultipleTimestamps.java — explicit-timestamp reads over
    # versions written in SEPARATE commits (separate store files), with
    # an exact-version delete interleaved
    from hbase_snapshot_spark.client import Scan
    from hbase_snapshot_spark.filters import TimestampsFilter

    store = TableStore(spark, str(tmp_path / "mts"))
    t = store.create_table(
        TableDescriptor("t").add_family(FamilyDescriptor("f", max_versions=5))
    )
    for ts in (1, 3, 5, 7):
        t.mutate([Put("r1").add("f", "q", f"v{ts}", ts=ts)])  # one segment each
    t.mutate([Delete("r1").delete_column("f", "q", ts=5)])

    def versions(ts_list):
        out = t.client().scan(Scan(
            max_versions=None, filter=TimestampsFilter(ts_list)
        ))
        return {(r.ts, r.value) for r in out.collect()}

    # requested {1,5,7}: 5 is tombstoned, 1 and 7 visible
    assert versions([1, 5, 7]) == {(1, "v1"), (7, "v7")}
    # requested {3}: only that version
    assert versions([3]) == {(3, "v3")}
    # unrequested timestamps never leak
    assert versions([2, 4, 6]) == set()


def test_get_row_versions_across_reopen(spark, tmp_path):
    # client/TestGetRowVersions.java — versions written before and after
    # a store "restart" (fresh TableStore handle) are all visible
    from hbase_snapshot_spark.resolve import ResolveSpec

    path = str(tmp_path / "grv")
    t1 = TableStore(spark, path).create_table(
        TableDescriptor("t").add_family(FamilyDescriptor("f", max_versions=3))
    )
    t1.mutate([Put("row").add("f", "q", "value1", ts=100)])

    t2 = TableStore(spark, path).table("t")  # reopen
    t2.mutate([Put("row").add("f", "q", "value2", ts=200)])
    got = {(r.ts, r.value)
           for r in t2.read(spec=ResolveSpec(max_versions=None)).collect()}
    assert got == {(100, "value1"), (200, "value2")}
    latest = t2.read(spec=ResolveSpec(max_versions=1)).collect()
    assert [(r.ts, r.value) for r in latest] == [(200, "value2")]


def test_incremental_minor_compaction_selection(spark, tmp_path):
    # HBASE-745 (Store.java:632-651): a large settled segment is skipped;
    # only the newest size-similar run merges. Data is unchanged.
    store = TableStore(spark, str(tmp_path / "inc"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    # big settled base: 200 rows in one segment
    t.mutate([Put(f"r{i:04d}").add("f", "q", "base", ts=1) for i in range(200)])
    big = t.manifest()["segments"][0]
    # four small fresh segments
    for k in range(4):
        t.mutate([Put(f"s{k}").add("f", "q", f"v{k}", ts=10)])
    before = {(r.row, r.ts, r.value) for r in t.cells().collect()}

    chosen = t.select_minor_compaction(threshold=3)
    assert big not in chosen and len(chosen) == 4

    t.maybe_compact(threshold=3)
    m = t.manifest()
    # big segment untouched, small run merged into one
    assert m["segments"][0] == big and len(m["segments"]) == 2
    after = {(r.row, r.ts, r.value) for r in t.cells().collect()}
    assert after == before
    # read path unaffected
    assert t.read().count() == 204


def test_register_sql_views_catalog(spark, tmp_path):
    # whole-store SQL registration: resolved views + raw cell streams
    store = TableStore(spark, str(tmp_path / "cat"))
    for name in ("users", "orders2"):
        t = store.create_table(
            TableDescriptor(name).add_family(FamilyDescriptor("f"))
        )
        t.mutate([Put("r1").add("f", "q", name, ts=10)])
    views = store.register_sql_views(prefix="hb_")
    assert set(views) == {"hb_users", "hb_users_cells",
                          "hb_orders2", "hb_orders2_cells"}
    got = spark.sql(
        "SELECT u.value AS a, o.value AS b FROM hb_users u "
        "JOIN hb_orders2 o ON u.row = o.row"
    ).collect()
    assert [(r.a, r.b) for r in got] == [("users", "orders2")]
    assert spark.sql("SELECT count(*) AS n FROM hb_users_cells").first().n == 1


def test_incremental_compaction_snapshot_vacuum_safety(spark, tmp_path):
    # partial minor compaction + vacuum must respect snapshot refcounts:
    # the snapshotted base survives vacuum; merged-away post-snapshot
    # segments are reclaimed; restore still reproduces the snapshot
    store = TableStore(spark, str(tmp_path / "icv"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    t.mutate([Put(f"r{i:03d}").add("f", "q", "base", ts=1) for i in range(50)])
    t.snapshot("s")
    for k in range(4):
        t.mutate([Put(f"x{k}").add("f", "q", f"v{k}", ts=10)])
    t.maybe_compact(threshold=3)
    removed = t.vacuum()
    # the four pre-merge small segments are unreferenced after the merge
    assert len(removed) >= 4
    assert t.read().count() == 54  # live data intact post-vacuum
    t.restore_snapshot("s")
    assert t.read().count() == 50  # snapshot state reproduced exactly


def test_binary_table_latest_delete(spark, tmp_path):
    # exact-latest delete on a BINARY table: the batched latest-ts
    # lookup must handle bytes keys (collected as bytearray)
    store = TableStore(spark, str(tmp_path / "bld"))
    t = store.create_table(
        TableDescriptor("b").add_family(FamilyDescriptor("f")), binary=True
    )
    t.mutate([Put(b"r1").add("f", b"q", b"v1", ts=10)])
    t.mutate([Put(b"r1").add("f", b"q", b"v2", ts=20)])
    t.mutate([Delete(b"r1").delete_column("f", b"q")])  # no ts = latest
    from hbase_snapshot_spark.resolve import ResolveSpec

    left = [(r.ts, bytes(r.value))
            for r in t.read(spec=ResolveSpec(max_versions=None)).collect()]
    assert left == [(10, b"v1")]


def test_read_path_applies_family_ttl(spark, tmp_path):
    # descriptor TTLs must gate the DataFrame/SQL read path too, not
    # only client scans; `now` injectable through the spec
    from hbase_snapshot_spark.resolve import ResolveSpec

    store = TableStore(spark, str(tmp_path / "ttlr"))
    t = store.create_table(
        TableDescriptor("t").add_family(FamilyDescriptor("f", ttl=60))
    )
    t.mutate([Put("r1").add("f", "q", "stale", ts=1_000)])
    t.mutate([Put("r2").add("f", "q", "fresh", ts=90_000)])
    out = t.read(spec=ResolveSpec(max_versions=None, now=100_000))
    assert {r.value for r in out.collect()} == {"fresh"}
    # caller's spec is not mutated
    spec = ResolveSpec(max_versions=None, now=100_000)
    t.read(spec=spec)
    assert spec.family_ttl == {}


def test_mutate_batch_put_then_latest_delete(spark, tmp_path):
    # "latest" resolves at apply time: a Put earlier in the SAME batch
    # is the latest version a following latest-delete targets
    store = TableStore(spark, str(tmp_path / "ibl"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    t.mutate([Put("r").add("f", "q", "old", ts=10)])
    t.mutate([
        Put("r").add("f", "q", "new", ts=50),
        Delete("r").delete_column("f", "q"),  # must target ts=50
    ])
    got = {(r.ts, r.value) for r in t.read().collect()}
    assert got == {(10, "old")}


def test_adopt_segment_respects_readonly(spark, tmp_path):
    from hbase_snapshot_spark.sources.tools import bulk_load
    from tests.cells import cells_df, put as mkput

    cells = cells_df(spark, [mkput("r1", "f", "q", 10, "v")])
    prepared = str(tmp_path / "prep")
    bulk_load(cells, prepared, num_partitions=1)
    store = TableStore(spark, str(tmp_path / "ro"))
    store.create_table(
        TableDescriptor("t", readonly=True).add_family(FamilyDescriptor("f"))
    )
    with pytest.raises(PermissionError):
        store.table("t").adopt_segment(prepared)


def test_diff_versions(spark, tmp_path):
    # resolved-view diff between manifest versions: value change shows
    # as removed+added; deletes as removed; stable across compaction
    store = TableStore(spark, str(tmp_path / "dv"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    t.mutate([Put("r1").add("f", "q", "v1", ts=10),
              Put("r2").add("f", "q", "x", ts=10)])
    v1 = t.manifest()["version"]
    t.mutate([Put("r1").add("f", "q", "v2", ts=20)])  # shadows v1 at maxv=1?
    t.mutate([Delete("r2")])
    t.compact()  # diff compares RESOLVED views, so compaction is invisible
    got = {(r.change, r.row, r.ts, r.value)
           for r in t.diff_versions(v1).collect()}
    assert ("added", "r1", 20, "v2") in got
    assert ("removed", "r2", 10, "x") in got
    # r1's ts=10 cell is still visible at default read (maxv from family=3)
    assert ("removed", "r1", 10, "v1") not in got


def test_diff_versions_self_is_empty_and_multiplicity(spark, tmp_path):
    # diff of a version against itself is empty (pinned TTL now), and
    # duplicate identical cells diff by multiplicity
    store = TableStore(spark, str(tmp_path / "dvm"))
    t = store.create_table(
        TableDescriptor("t").add_family(FamilyDescriptor("f", ttl=60))
    )
    t.mutate([Put("r1").add("f", "q", "v", ts=10)])
    v = t.manifest()["version"]
    assert t.diff_versions(v, v).count() == 0


def test_multi_parallel_put(spark, tmp_path):
    """client/TestMultiParallelPut.java (adapted): concurrent put
    batches from many threads against one table — the single-writer
    commit protocol serializes them without losing any batch; every
    row lands, commit_seq advances once per batch."""
    import threading

    store = TableStore(spark, str(tmp_path / "mpp"))
    t = store.create_table(
        TableDescriptor("mpp").add_family(FamilyDescriptor("f")))
    errors = []

    def worker(n):
        try:
            t.mutate(
                [Put(f"row-{n}-{i}").add("f", "q", f"v{n}-{i}")
                 for i in range(10)],
                now=1000 + n,
            )
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(n,)) for n in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.client().row_count() == 80
    assert t.manifest()["commit_seq"] == 8
    # every batch's cells are intact (no torn/overwritten segments)
    vals = {r.value for r in t.client().scan(Scan()).collect()}
    assert vals == {f"v{n}-{i}" for n in range(8) for i in range(10)}


def test_incremental_snapshot_export(store, spark, tmp_path):
    """ExportSnapshot's periodic-backup shape: a newer snapshot
    re-exported over an existing target ships only the DELTA segments
    (immutable files already present are skipped) and advances the
    target to the snapshot's state."""
    import os

    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.mutate([Put("r2").add("f", "q", "v2", ts=10)])
    t.snapshot("s1")
    other = TableStore(spark, str(tmp_path / "backup"))
    t2 = t.clone_to(other, "t1_backup", "s1")
    first_segs = set(os.listdir(os.path.join(t2.dir, "segments")))
    assert len(first_segs) == 2

    # new data → new snapshot → incremental re-export
    t.mutate([Put("r3").add("f", "q", "v3", ts=10)])
    t.snapshot("s2")
    t2 = t.clone_to(other, "t1_backup", "s2", incremental=True)
    segs = set(os.listdir(os.path.join(t2.dir, "segments")))
    assert first_segs < segs and len(segs) == 3  # only the delta added
    assert cellset(t2.read()) == {
        ("r1", "f", "q", 10, "v1"),
        ("r2", "f", "q", 10, "v2"),
        ("r3", "f", "q", 10, "v3"),
    }


# ------------------------------------------- round-7 advice-fix pins


def test_incremental_export_sweeps_stale_tmp(store, spark, tmp_path):
    """A crashed prior export leaves .tmp-* under segments/; the next
    incremental run reaps them before copying."""
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.snapshot("s1")
    other = TableStore(spark, str(tmp_path / "backup"))
    t2 = t.clone_to(other, "t1_backup", "s1")
    stale = os.path.join(t2.dir, "segments", ".tmp-deadbeef")
    os.makedirs(stale)
    t.mutate([Put("r2").add("f", "q", "v2", ts=10)])
    t.snapshot("s2")
    t2 = t.clone_to(other, "t1_backup", "s2", incremental=True)
    segs = os.listdir(os.path.join(t2.dir, "segments"))
    assert not any(s.startswith(".tmp-") for s in segs)
    assert cellset(t2.read()) == {
        ("r1", "f", "q", 10, "v1"),
        ("r2", "f", "q", 10, "v2"),
    }


def test_incremental_export_lost_rename_race_is_success(
        store, spark, tmp_path, monkeypatch):
    """Two concurrent exporters of one segment: the rename loser finds
    the destination already published and treats it as success
    (segments are immutable)."""
    import errno
    import shutil as _sh

    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.snapshot("s1")
    other = TableStore(spark, str(tmp_path / "backup"))
    real_rename = os.rename

    def racing_rename(src, dst):
        if "/segments/seg-" in dst.replace(os.sep, "/"):
            # simulate the winner publishing first, then lose the race
            _sh.copytree(src, dst)
            raise OSError(errno.ENOTEMPTY, "Directory not empty", dst)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    t2 = t.clone_to(other, "t1_backup", "s1")
    monkeypatch.undo()
    assert cellset(t2.read()) == {("r1", "f", "q", 10, "v1")}
    assert not any(
        s.startswith(".tmp-")
        for s in os.listdir(os.path.join(t2.dir, "segments")))


def test_store_snapshot_foreign_oserror_not_masked(
        store, spark, monkeypatch):
    """TableStore.snapshot: only a name collision maps to
    TableExistsError; an EACCES from the publishing rename surfaces
    as the original OSError."""
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])

    real_rename = os.rename

    def denied(src, dst):
        if "/.snapshot/" in dst.replace(os.sep, "/") and \
                not os.path.basename(dst).startswith(".tmp-"):
            raise PermissionError(13, "Permission denied", dst)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", denied)
    with pytest.raises(PermissionError):
        store.snapshot("snapA", t.name)
    monkeypatch.undo()
    # tmp build dir was cleaned up despite the failure
    base = store._snap_base()
    assert not any(n.startswith(".tmp-") for n in os.listdir(base))
    # and a real collision still maps to TableExistsError
    store.snapshot("snapA", t.name)
    with pytest.raises(TableExistsError):
        store.snapshot("snapA", t.name)


def test_writer_lock_inprocess_timeout(store):
    """A thread stuck behind a hung same-process writer times out
    (the RLock wait is bounded by the same deadline as the lockfile
    spin, ADVICE r6)."""
    import threading

    t = _mk(store)
    entered = threading.Event()
    release = threading.Event()
    results = []

    def holder():
        with t._lock():
            entered.set()
            release.wait(10)

    def contender():
        try:
            with t._lock(timeout_s=0.4):
                results.append("acquired")
        except TimeoutError:
            results.append("timeout")

    th1 = threading.Thread(target=holder)
    th1.start()
    assert entered.wait(5)
    th2 = threading.Thread(target=contender)
    th2.start()
    th2.join(10)
    assert results == ["timeout"]
    release.set()
    th1.join(10)
    # lock is usable again afterwards
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])


# ---------------------------------------------------- r15: all-put stats


def _put_cells(spark, n=200, versions=2):
    rows = []
    for i in range(n):
        for v in range(versions):
            rows.append((f"{i:06d}", "f", "q", 100 + v, 4, f"v{i}.{v}"))
    return spark.createDataFrame(
        rows, "row STRING, family STRING, qualifier STRING, ts LONG, "
              "type INT, value STRING")


def test_all_put_stat_and_tombstone_window_skip(store, spark):
    """r15 (VERDICT r14 Next #4): segments publish footer type min/max;
    a table whose every file is all-PUT gives its client a
    delete-free selection whose mask() skips the tombstone windows — results identical, plan
    provably window-free — and the stat flips off (and results stay
    correct) the moment a delete segment lands."""
    import io
    from contextlib import redirect_stdout

    t = _mk(store)
    t.append_cells(_put_cells(spark))
    cl = t.client()
    assert proven_delete_free(cl) is True
    # parity: the window-free scan equals the full resolve path
    from hbase_snapshot_spark.client import Table as ClientTable

    slow = ClientTable(t.cells(), t.descriptor)  # no flag
    sc = Scan(max_versions=None)
    assert cellset(cl.scan(sc)) == cellset(slow.scan(sc))
    # the fast plan really dropped the tombstone windows
    buf = io.StringIO()
    with redirect_stdout(buf):
        cl.scan(sc).explain("simple")
    fast_plan = buf.getvalue()
    assert "_famdel" not in fast_plan and "_coldel" not in fast_plan
    buf = io.StringIO()
    with redirect_stdout(buf):
        slow.scan(sc).explain("simple")
    assert "_famdel" in buf.getvalue()

    # a delete flips the stat off and masking still applies
    t.mutate([Delete("000001")], now=10_000)
    cl2 = t.client()
    assert proven_delete_free(cl2) is False
    assert cl2.row_count() == 199


def test_read_and_scan_ranges_skip_tombstone_windows_when_all_put(store, spark):
    """StoredTable.read() and scan_ranges() select their cells through
    the same front door as client scans, so an all-PUT table's resolve
    plan carries no tombstone windows — with results equal to the
    windowed resolve over the raw stream."""
    import io
    from contextlib import redirect_stdout

    from hbase_snapshot_spark.resolve import ResolveSpec, resolve

    t = _mk(store)
    t.append_cells(_put_cells(spark))
    spec = ResolveSpec(max_versions=None)
    for df in (t.read(spec), t.scan_ranges([("000010", "000020")], spec)):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("simple")
        assert "_famdel" not in buf.getvalue()
        assert "_coldel" not in buf.getvalue()
    assert cellset(t.read(spec)) == cellset(resolve(t.cells(), spec=spec))


def test_row_count_fast_path_parity_and_guards(store, spark):
    """row_count's RowCounter fast path (distinct row over the raw
    stream) must equal the resolve path on an all-put table, under
    row bounds and family restriction — and every ineligible guard
    (filter, time_range, columns, bounded TTL, deletes present) must
    fall back to the exact path."""
    from hbase_snapshot_spark.filters import PageFilter

    t = _mk(store)
    t.append_cells(_put_cells(spark, n=150))
    cl = t.client()
    assert proven_delete_free(cl) is True
    slow = lambda s=None: cl.scan(s).select("row").distinct().count()  # noqa: E731

    assert cl.row_count() == slow() == 150
    sc_bounds = Scan(start_row="000010", stop_row="000020")
    assert cl.row_count(sc_bounds) == slow(sc_bounds) == 10
    sc_fam = Scan(families=["f"])
    assert cl.row_count(sc_fam) == slow(sc_fam) == 150
    # ineligible shapes still agree (they take the resolve path)
    sc_tr = Scan(time_range=(100, 101), max_versions=None)
    assert cl.row_count(sc_tr) == slow(sc_tr) == 150
    sc_cols = Scan(columns={"f": ["nope"]})
    assert cl.row_count(sc_cols) == slow(sc_cols) == 0
    sc_filt = Scan(filter=PageFilter(7))
    assert cl.row_count(sc_filt) == slow(sc_filt)
    sc_ttl = Scan(family_ttl={"f": 1, "g": 1}, now=10_000_000)
    assert cl.row_count(sc_ttl) == slow(sc_ttl) == 0

    # with deletes present the fast path must not engage
    t.mutate([Delete(f"{i:06d}") for i in range(5)], now=10_000)
    cl2 = t.client()
    assert cl2.row_count() == 145


def test_ttl_floor_via_ttl_complete_without_family_injection(store, spark):
    """r15 (VERDICT r14 Wrong #5): the TTL file-prune floor works off
    the descriptor-composed family_ttl map (ttl_complete) instead of
    injected scan.families — unrestricted scans carry NO per-row
    family-isin residual while ts_floor still sees the read set."""
    from hbase_snapshot_spark.resolve import ts_floor

    t = _mk(store)
    cl = t.client()
    spec = cl._spec(Scan(family_ttl={"f": 1, "g": 1}, now=3_600_000))
    assert spec.families is None  # no injection
    assert spec.ttl_complete is True
    assert ts_floor(spec) == 3_600_000 - 1000
    # an unbounded family in the read set kills the TTL bound (sound)
    spec2 = cl._spec(Scan(family_ttl={"f": 1}, now=3_600_000))
    assert ts_floor(spec2) is None


def test_row_count_agg_path_tombstone_parity(spark, tmp_path, sf_dir):
    """The r15 aggregation row_count (no resolve windows) must equal
    the scan-path count on a tombstone-RICH stream — all three delete
    kinds live (encode_orders_cells: DELETE_COLUMN k%5, exact DELETE
    k%7, DELETE_FAMILY k%11) — under no restriction, row bounds,
    family projection, and TTL."""
    from hbase_snapshot_spark.model import FOREVER, FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.parity import encode_orders_cells
    from hbase_snapshot_spark.table import TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("orders")
        .add_family(FamilyDescriptor("o", max_versions=FOREVER))
        .add_family(FamilyDescriptor("m", max_versions=FOREVER)))
    t.append_cells(encode_orders_cells(spark, sf_dir))
    cl = t.client()
    assert proven_delete_free(cl) is False  # the fixture has tombstones

    def slow(s=None):
        return cl.scan(s).select("row").distinct().count()

    scans = [
        None,
        Scan(start_row="000000000100", stop_row="000000000700"),
        Scan(families=["o"]),
        Scan(families=["m"]),
        # TTL 1s at now=2_500_000: ts-1000/1500/1700/2000 cells expire
        # (including tombstones — expired deletes no longer mask),
        # ts-3000 survives
        Scan(family_ttl={"o": 1, "m": 1}, now=2_500_000),
    ]
    for s in scans:
        assert cl.row_count(s) == slow(s), s
    assert cl.row_count() > 0
