"""Case-for-case port of the reference's region-behavior corpus:
regionserver/TestHRegion.java — the checkAndMutate family (empty-value
/ absent-column semantics, HRegion.checkAndMutate:1544), the delete
interleavings, the ICV edge cases, and the flush/scan boundary methods.

Mapping notes:
- ``region.flushcache()`` maps to a segment boundary: every ``mutate``
  batch commits a durable segment, so data written before/after a
  flush lands in distinct segments exactly like memstore-vs-storefile
  (the _FromMemStore / _FromFilesOnly / _FromMemStoreAndFiles variants
  differ only in how many segments carry the versions).
- ``initHRegion(name, method, fam)`` creates families at the reference
  default of 3 versions (HColumnDescriptor.DEFAULT_VERSIONS).
- ``put.add(fam, null, value)`` addresses the EMPTY qualifier
  (KeyValue coerces null to byte[0]).
- Explicit ``now=`` stands in for the wall clock so same-ms collisions
  can't flake (the reference sleeps 2 ms for the same reason,
  testCheckAndDelete_ThatDeleteWasWritten Threads.sleep(2)).
- testBatchPut's row-lock/HLog-sync phases need the reference's WAL
  internals; the ported assertions are the per-op status codes
  (SUCCESS / BAD_FAMILY) and that the valid subset commits — the
  single-writer engine has no row locks (DIVERGENCES.md).
"""

import pytest

from hbase_snapshot_spark.bytes_util import to_bytes, to_long
from hbase_snapshot_spark.client import Get, Scan
from hbase_snapshot_spark.filters import (
    BinaryComparator,
    ColumnCountGetFilter,
    CompareOp,
    FilterList,
    PrefixFilter,
    SingleColumnValueFilter,
)
from hbase_snapshot_spark.model import (
    LATEST_TIMESTAMP,
    FamilyDescriptor,
    NoSuchColumnFamilyError,
    TableDescriptor,
)
from hbase_snapshot_spark.table import Delete, Put, TableStore

ROW = "rowA"
Q1, Q2, Q3 = "qual1", "qual2", "qual3"
V1, V2 = "value1", "value2"
MAX_VERSIONS = 2  # TestHRegion.java:88


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "tables"))


def _mk(store, name, *fams, versions=3, binary=False):
    desc = TableDescriptor(name)
    for f in fams:
        desc.add_family(FamilyDescriptor(f, max_versions=versions))
    return store.create_table(desc, binary=binary)


def _cells(t, row, *, families=None, columns=None, maxv=1):
    df = t.client().get(
        Get(row, families=families, columns=columns, max_versions=maxv)
    )
    return [(r.family, r.qualifier, r.ts, r.value)
            for r in sorted(df.collect(),
                            key=lambda r: (r.family, r.qualifier, -r.ts))]


def _size(t, row, **kw):
    return len(_cells(t, row, **kw))


# ------------------------------------------- testFamilyWithAndWithoutColon:327


def test_family_with_and_without_colon(store):
    """a family name with a trailing colon is NOT the declared family —
    the put must be rejected (NoSuchColumnFamilyException)."""
    t = _mk(store, "colon", "cf")
    with pytest.raises(NoSuchColumnFamilyError):
        t.mutate([Put("b").add("cf:", "cf:", "cf:")])


# ----------------------------------------------------------- testBatchPut:344


def test_batch_put(store):
    t = _mk(store, "batchput", "cf")
    puts = [Put(f"row_{i}").add("cf", "qual", "val") for i in range(10)]
    codes = t.put_batch(puts, now=100)
    assert codes == ["SUCCESS"] * 10
    for i in range(10):
        assert _size(t, f"row_{i}") == 1

    # one put naming an invalid family: BAD_FAMILY for it, the other
    # nine commit (HRegion.put(Put[]) OperationStatusCode semantics)
    puts = [Put(f"row_{i}").add("cf", "qual", "val2") for i in range(10)]
    puts[5].add("BAD_CF", "qual", "val2")
    codes = t.put_batch(puts, now=200)
    assert codes == ["SUCCESS"] * 5 + ["BAD_FAMILY"] + ["SUCCESS"] * 4
    for i in range(10):
        val = _cells(t, f"row_{i}")[0][3]
        assert val == ("val" if i == 5 else "val2")


# ------------------------------------- testCheckAndMutate_WithEmptyRowValue:443


def test_check_and_mutate_with_empty_row_value(store):
    t = _mk(store, "testtable", "fam1")
    row1, qf1 = "row1", "qualifier"
    empty = ""

    put = Put(row1).add("fam1", qf1, V1)
    # absent column + empty expected → matches, put written
    assert t.check_and_put(row1, "fam1", qf1, empty, put, now=100)
    # not empty anymore
    assert not t.check_and_put(row1, "fam1", qf1, empty, put, now=110)
    delete = Delete(row1).delete_column("fam1", qf1)
    assert not t.check_and_delete(row1, "fam1", qf1, empty, delete, now=120)

    put = Put(row1).add("fam1", qf1, V2)
    assert t.check_and_put(row1, "fam1", qf1, V1, put, now=130)

    # checkAndDelete with correct value: two latest-deletes wipe both
    # visible versions
    delete = (Delete(row1).delete_column("fam1", qf1)
              .delete_column("fam1", qf1))
    assert t.check_and_delete(row1, "fam1", qf1, V2, delete, now=140)

    # column absent again → empty expected matches a whole-row delete
    delete = Delete(row1)
    assert t.check_and_delete(row1, "fam1", qf1, empty, delete, now=150)


# --------------------------------------- testCheckAndMutate_WithWrongValue:494


def test_check_and_mutate_with_wrong_value(store):
    t = _mk(store, "testtable", "fam1")
    row1, qf1 = "row1", "qualifier"
    put = Put(row1).add("fam1", qf1, V1)
    t.mutate([put], now=100)

    assert not t.check_and_put(row1, "fam1", qf1, V2, put, now=110)
    delete = Delete(row1).delete_family("fam1")
    assert not t.check_and_delete(row1, "fam1", qf1, V2, delete, now=120)
    assert _size(t, row1) == 1  # nothing applied


# ------------------------------------- testCheckAndMutate_WithCorrectValue:523


def test_check_and_mutate_with_correct_value(store):
    t = _mk(store, "testtable", "fam1")
    row1, qf1 = "row1", "qualifier"
    t.mutate([Put(row1).add("fam1", qf1, V1)], now=100)

    assert t.check_and_put(row1, "fam1", qf1, V1,
                           Put(row1).add("fam1", qf1, V1), now=110)
    assert t.check_and_put(row1, "fam1", qf1, V1,
                           Put(row1).add("fam1", qf1, V1), now=120)


# --------------------------------------- testCheckAndPut_ThatPutWasWritten:551


def test_check_and_put_that_put_was_written(store):
    t = _mk(store, "testtable", "fam1", "fam2")
    row1, qf1 = "row1", "qualifier"
    t.mutate([Put(row1).add("fam1", qf1, V1)], now=100)

    ts = 200
    put = Put(row1).add("fam2", qf1, V2, ts=ts)
    assert t.check_and_put(row1, "fam1", qf1, V1, put, now=210)

    actual = _cells(t, row1, columns={"fam2": [qf1]})
    assert actual == [("fam2", qf1, ts, V2)]


# ----------------------------------- testCheckAndDelete_ThatDeleteWasWritten:599


def test_check_and_delete_that_delete_was_written(store):
    t = _mk(store, "testtable", "fam1", "fam2")
    row1 = "row1"
    qf1, qf2, qf3 = "qualifier1", "qualifier2", "qualifier3"
    v1, v2, v3 = "value1", "value2", "value3"

    t.mutate([Put(row1).add("fam1", qf1, v1)], now=100)
    t.mutate([Put(row1)
              .add("fam1", qf1, v2).add("fam2", qf1, v3)
              .add("fam2", qf2, v2).add("fam2", qf3, v1)
              .add("fam1", qf3, v1)], now=102)

    # multi-column latest-delete, guarded on fam1:qf1 == v2
    delete = (Delete(row1).delete_column("fam1", qf1)
              .delete_column("fam2", qf1).delete_column("fam1", qf3))
    assert t.check_and_delete(row1, "fam1", qf1, v2, delete, now=110)

    r = _cells(t, row1, columns={"fam1": [qf1, qf3], "fam2": [qf2]})
    assert len(r) == 2
    assert ("fam1", qf1, 100, v1) in r   # older version resurfaces
    assert ("fam2", qf2, 102, v2) in r

    # family delete guarded on an ABSENT column with empty expected
    delete = Delete(row1).delete_family("fam2")
    assert t.check_and_delete(row1, "fam2", qf1, "", delete, now=120)
    r = _cells(t, row1)
    assert r == [("fam1", qf1, 100, v1)]

    # whole-row delete guarded on the remaining value
    delete = Delete(row1)
    assert t.check_and_delete(row1, "fam1", qf1, v1, delete, now=130)
    assert _size(t, row1) == 0


# --------------------------------------------- testDelete_multiDeleteColumn:676


def test_delete_multi_delete_column(store):
    t = _mk(store, "testtable", "fam1")
    row1, qual = "row1", "qualifier"
    t.mutate([Put(row1).add("fam1", qual, "value", ts=1)
              .add("fam1", qual, "value", ts=2)], now=5)

    # two latest-deletes remove both 'latest' versions
    t.mutate([Delete(row1).delete_column("fam1", qual)
              .delete_column("fam1", qual)], now=10)
    assert _size(t, row1, families=["fam1"]) == 0


# -------------------------------------------------- testDelete_CheckFamily:704


def test_delete_check_family(store):
    t = _mk(store, "testtable", "fam1", "fam2", "fam3")
    # deleting via an existing family works
    t.mutate([Delete("row1").delete_family("fam2")], now=10)
    # a non-existent family raises
    with pytest.raises(NoSuchColumnFamilyError):
        t.mutate([Delete("row1").delete_family("fam4")], now=20)


# -------------------------------------------------------- testDelete_mixed:743


def test_delete_mixed(store):
    t = _mk(store, "testtable", "info")
    row = "table_name"
    serverinfo, split_a, split_b = "serverinfo", "splitA", "splitB"

    t.mutate([Put(row).add("info", split_a, "reference_A")], now=100)
    t.mutate([Put(row).add("info", split_b, "reference_B")], now=101)
    t.mutate([Put(row).add("info", serverinfo, "ip_address")], now=102)

    # delete one split (all versions)
    t.mutate([Delete(row).delete_columns("info", split_a)], now=103)
    assert _size(t, row, columns={"info": [serverinfo]}) == 1
    assert _size(t, row, columns={"info": [split_a]}) == 0
    assert _size(t, row, columns={"info": [split_b]}) == 1

    # after a delete, a LATER put is visible again
    t.mutate([Put(row).add("info", split_a, "reference_A")], now=104)
    assert _size(t, row) == 3

    # whole-row delete, then put something back
    t.mutate([Delete(row)], now=105)
    assert _size(t, row) == 0
    t.mutate([Put(row).add("info", split_a, "reference_A")], now=106)
    assert _size(t, row) == 1


# ------------------------------------------------ testDeleteRowWithFutureTs:806


def test_delete_row_with_future_ts(store):
    t = _mk(store, "testtable", "info")
    row, serverinfo = "table_name", "serverinfo"

    # a cell in the far future
    t.mutate([Put(row).add("info", serverinfo, "value",
                           ts=LATEST_TIMESTAMP - 5)], now=100)
    # whole-row delete "in the present" — masks only ts <= now
    t.mutate([Delete(row)], now=110)
    assert _size(t, row, columns={"info": [serverinfo]}) == 1

    # row delete with an explicit FUTURE bound removes it
    t.mutate([Delete(row, ts=LATEST_TIMESTAMP - 3)], now=120)
    assert _size(t, row, columns={"info": [serverinfo]}) == 0


# ------------------------------------------------------ testPutWithLatestTS:845


def test_put_with_latest_ts(store):
    """the LATEST_TIMESTAMP sentinel is replaced with the server clock
    at apply time (HRegion.updateKVTimestamps:1602), never stored."""
    t = _mk(store, "testtable", "info")
    t.mutate([Put("row1").add("info", "qual", "value",
                              ts=LATEST_TIMESTAMP)], now=777)
    cells = _cells(t, "row1", columns={"info": ["qual"]})
    assert len(cells) == 1
    assert cells[0][2] == 777  # real timestamp, not the sentinel
    # second write path (the reference checks WAL and non-WAL paths)
    t.mutate([Put("row2").add("info", "qual", "value",
                              ts=LATEST_TIMESTAMP)], now=888)
    assert _cells(t, "row2", columns={"info": ["qual"]})[0][2] == 888


# ------------------------------------- testScanner_DeleteOneFamilyNotAnother:888


def test_scanner_delete_one_family_not_another(store):
    t = _mk(store, "test_table", "columnA", "columnB")
    rowA, rowB = "rowA", "rowB"

    # delete family A of rowA BEFORE any data exists
    t.mutate([Delete(rowA).delete_family("columnA")], now=50)

    t.mutate([Put(rowA).add("columnB", None, "value")], now=60)
    t.mutate([Put(rowB).add("columnA", None, "value")
              .add("columnB", None, "value")], now=61)

    rows = t.client().scan(
        Scan(families=["columnA", "columnB"])
    ).orderBy("row", "family").collect()
    assert [r.row for r in rows] == [rowA, rowB, rowB]
    assert rows[0].family == "columnB"  # rowA's columnA cell never existed


# ------------------- testDeleteColumns_PostInsert:927 / testDeleteFamily:934


def _do_test_delete_and_post_insert(store, delete):
    t = _mk(store, "testtable", "fam1")
    t.mutate([Put(ROW).add("fam1", Q1, V1)], now=100)
    t.mutate([delete], now=101)
    # a LATER put is visible through get and scan
    t.mutate([Put(ROW).add("fam1", Q1, V2)], now=102)

    r = _cells(t, ROW, columns={"fam1": [Q1]})
    assert r == [("fam1", Q1, 102, V2)]
    rows = t.client().scan(Scan(start_row=ROW, columns={"fam1": [Q1]})).collect()
    assert [(c.family, c.qualifier, c.value) for c in rows] == [("fam1", Q1, V2)]


def test_delete_columns_post_insert(store):
    _do_test_delete_and_post_insert(
        store, Delete(ROW).delete_columns("fam1", Q1))


def test_delete_family_post_insert(store):
    _do_test_delete_and_post_insert(store, Delete(ROW).delete_family("fam1"))


# ------------------------------------------- testDelete_CheckTimestampUpdated:983


def test_delete_check_timestamp_updated(store):
    """latest-deletes with no explicit ts are stamped with the server
    clock (the reference inspects the memstore kvset; here the stored
    tombstones carry the mutate-time `now`)."""
    t = _mk(store, "testtable", "fam1")
    row1 = "row1"
    t.mutate([Delete(row1).delete_column("fam1", "col1")
              .delete_column("fam1", "col2")
              .delete_column("fam1", "col3")], now=424_242)
    from pyspark.sql import functions as F

    stored = t.cells().filter(F.col("row") == row1).collect()
    assert len(stored) == 3
    assert all(c.ts == 424_242 for c in stored)


# --------------------------------------------------------- testGet_FamilyChecker:1019


def test_get_family_checker(store):
    t = _mk(store, "testtable", "fam1")
    with pytest.raises(NoSuchColumnFamilyError):
        t.client().get(Get("row1", columns={"False": ["col1"]})).collect()


# ----------------------------------------------------------------- testGet_Basic:1043


def test_get_basic(store):
    t = _mk(store, "testtable", "fam1")
    row1 = "row1"
    cols = [f"col{i}" for i in range(1, 6)]
    p = Put(row1)
    for c in cols:
        p.add("fam1", c, "")
    t.mutate([p], now=100)

    got = _cells(t, row1, columns={"fam1": ["col2", "col4"]})
    assert [(f, q) for f, q, _ts, _v in got] == [("fam1", "col2"), ("fam1", "col4")]

    # Get with a ColumnCountGetFilter
    df = t.client().get(Get(row1, filter=ColumnCountGetFilter(2)))
    assert df.count() == 2


# ----------------------------------------------------------------- testGet_Empty:1095


def test_get_empty(store):
    t = _mk(store, "emptytable", "fam")
    assert t.client().get(Get("row", families=["fam"])).count() == 0


# -------------------------------------------------------- testRegionScanner_Next:1447


def test_region_scanner_next(store):
    t = _mk(store, "testtable", "fam1", "fam2", "fam3", "fam4")
    ts = 1000
    for row in ("row1", "row2"):
        p = Put(row)
        for fam in ("fam1", "fam2", "fam3", "fam4"):
            p.add(fam, None, "", ts=ts)
        t.mutate([p], now=ts)

    rows = t.client().scan(
        Scan(families=["fam2", "fam4"])
    ).orderBy("row", "family").collect()
    assert [(r.row, r.family, r.qualifier, r.ts) for r in rows] == [
        ("row1", "fam2", "", ts), ("row1", "fam4", "", ts),
        ("row2", "fam2", "", ts), ("row2", "fam4", "", ts),
    ]


# ---------------- testScanner_ExplicitColumns_* / _Wildcard_* EnforceVersions


def _put_six_versions(t, segments):
    """kv11..kv13 (qf1), kv21..kv23 (qf2) at ts 1..3 across the given
    number of mutate batches (segments) — 1 batch = FromMemStore,
    post-'flush' = FromFilesOnly; the read side must be identical."""
    row1 = "row1"
    if segments == 1:
        p = Put(row1)
        for ts in (3, 2, 1):
            p.add("fam1", "qualifier1", "", ts=ts)
            p.add("fam1", "qualifier2", "", ts=ts)
        t.mutate([p], now=10)
    else:
        for i, ts in enumerate((3, 2, 1)):
            t.mutate([Put(row1).add("fam1", "qualifier1", "", ts=ts)
                      .add("fam1", "qualifier2", "", ts=ts)], now=10 + i)


@pytest.mark.parametrize("segments", [1, 3],
                         ids=["from_memstore", "from_files_only"])
def test_scanner_explicit_columns_enforce_versions(store, segments):
    """:1510 (FromMemStore) / :1566 (FromFilesOnly): maxVersions=2 over
    explicit columns returns the 2 newest per column regardless of how
    many segments carry them."""
    t = _mk(store, "testtable", "fam1")
    _put_six_versions(t, segments)
    rows = t.client().scan(
        Scan(start_row="row1", columns={"fam1": ["qualifier1", "qualifier2"]},
             max_versions=MAX_VERSIONS)
    ).orderBy("qualifier", F_desc_ts()).collect()
    assert [(r.qualifier, r.ts) for r in rows] == [
        ("qualifier1", 3), ("qualifier1", 2),
        ("qualifier2", 3), ("qualifier2", 2),
    ]


@pytest.mark.parametrize("segments", [1, 3],
                         ids=["from_memstore", "from_files_only"])
def test_scanner_wildcard_enforce_versions(store, segments):
    """:1705 (FromMemStore) / :1763 (FromFilesOnly): same with a
    wildcard family scan."""
    t = _mk(store, "testtable", "fam1")
    _put_six_versions(t, segments)
    rows = t.client().scan(
        Scan(start_row="row1", families=["fam1"], max_versions=MAX_VERSIONS)
    ).orderBy("qualifier", F_desc_ts()).collect()
    assert [(r.qualifier, r.ts) for r in rows] == [
        ("qualifier1", 3), ("qualifier1", 2),
        ("qualifier2", 3), ("qualifier2", 2),
    ]


def F_desc_ts():
    from pyspark.sql import functions as F

    return F.desc("ts")


def _put_four_versions_interleaved(t, explicit_final_batch=True):
    """:1626 / :2063 — ts4 / ts3 / ts2 flushed as three segments, ts1
    left 'in the memstore' (a fourth batch)."""
    row1 = "row1"
    for i, ts in enumerate((4, 3, 2)):
        t.mutate([Put(row1).add("fam1", "qualifier1", "", ts=ts)
                  .add("fam1", "qualifier2", "", ts=ts)], now=10 + i)
    t.mutate([Put(row1).add("fam1", "qualifier1", "", ts=1)
              .add("fam1", "qualifier2", "", ts=1)], now=13)


def test_scanner_explicit_columns_from_memstore_and_files(store):
    """:1626 — maxVersions=3 across four segments: the 3 newest per
    column, merged across segment boundaries."""
    t = _mk(store, "testtable", "fam1")
    _put_four_versions_interleaved(t)
    rows = t.client().scan(
        Scan(start_row="row1", columns={"fam1": ["qualifier1", "qualifier2"]},
             max_versions=3)
    ).orderBy("qualifier", F_desc_ts()).collect()
    assert [(r.qualifier, r.ts) for r in rows] == [
        ("qualifier1", 4), ("qualifier1", 3), ("qualifier1", 2),
        ("qualifier2", 4), ("qualifier2", 3), ("qualifier2", 2),
    ]


def test_scanner_wildcard_from_memstore_and_files(store):
    """:2063 — same through a no-projection scan."""
    t = _mk(store, "testtable", "fam1")
    _put_four_versions_interleaved(t)
    rows = t.client().scan(
        Scan(start_row="row1", max_versions=3)
    ).orderBy("qualifier", F_desc_ts()).collect()
    assert [(r.qualifier, r.ts) for r in rows] == [
        ("qualifier1", 4), ("qualifier1", 3), ("qualifier1", 2),
        ("qualifier2", 4), ("qualifier2", 3), ("qualifier2", 2),
    ]


# ------------------------------------------------------- testScanner_StopRow1542:1821


def test_scanner_stop_row_1542(store):
    """[row3, row4) + addColumn(col1): row333 carries only col2, so the
    scan returns nothing (the stop row excludes row444)."""
    t = _mk(store, "test_table", "testFamily")
    data = [("row111", "Pub111"), ("row222", "Pub111"), ("row333", "Pub222"),
            ("row444", "Pub222"), ("row555", "Pub111")]
    for i, (row, col) in enumerate(data):
        t.mutate([Put(row).add("testFamily", col, str(i))], now=100 + i)

    rows = t.client().scan(
        Scan(start_row="row333", stop_row="row444",
             columns={"testFamily": ["Pub111"]}, max_versions=None)
    ).collect()
    assert rows == []


# ------------------------------------------------------ incrementColumnValue tier


def test_icv_updating_in_place(store):
    """:1866 — increment an existing counter; one visible version."""
    t = _mk(store, "testtable", "fam1", binary=True)
    t.mutate([Put(b"rowA").add("fam1", b"qual1", to_bytes(1))], now=100)
    assert t.increment_column_value(b"rowA", "fam1", b"qual1", 3, now=110) == 4
    cells = _cells(t, b"rowA", columns={"fam1": [b"qual1"]})
    assert len(cells) == 1 and to_long(bytes(cells[0][3])) == 4


def test_icv_updating_in_place_negative(store):
    """:1953 — negative amounts decrement."""
    t = _mk(store, "testtable", "fam1", binary=True)
    t.mutate([Put(b"rowA").add("fam1", b"qual1", to_bytes(3))], now=100)
    assert t.increment_column_value(b"rowA", "fam1", b"qual1", -1, now=110) == 2
    cells = _cells(t, b"rowA", columns={"fam1": [b"qual1"]})
    assert to_long(bytes(cells[0][3])) == 2


def test_icv_adding_new(store):
    """:1970 — ICV of an absent column starts at 0; neighbors untouched."""
    t = _mk(store, "testtable", "fam1", binary=True)
    t.mutate([Put(b"rowA").add("fam1", b"qual1", to_bytes(1))
              .add("fam1", b"qual2", to_bytes(1))], now=100)
    assert t.increment_column_value(b"rowA", "fam1", b"qual3", 3, now=110) == 3
    for q, want in ((b"qual1", 1), (b"qual2", 1), (b"qual3", 3)):
        cells = _cells(t, b"rowA", columns={"fam1": [q]})
        assert len(cells) == 1 and to_long(bytes(cells[0][3])) == want


def test_icv_updating_from_sf(store):
    """:1996 — the base value lives in an already-flushed segment."""
    t = _mk(store, "testtable", "fam1", binary=True)
    t.mutate([Put(b"rowA").add("fam1", b"qual1", to_bytes(1))
              .add("fam1", b"qual2", to_bytes(1))], now=100)
    # 'flush' boundary = the next mutate lands in a new segment
    assert t.increment_column_value(b"rowA", "fam1", b"qual1", 3, now=110) == 4
    cells = _cells(t, b"rowA", columns={"fam1": [b"qual1"]})
    assert to_long(bytes(cells[0][3])) == 4


def test_icv_adding_new_after_sf_check(store):
    """:2019 — absent-column ICV after a flush, then across another
    flush boundary."""
    t = _mk(store, "testtable", "fam1", binary=True)
    t.mutate([Put(b"rowA").add("fam1", b"qual1", to_bytes(1))
              .add("fam1", b"qual2", to_bytes(1))], now=100)
    assert t.increment_column_value(b"rowA", "fam1", b"qual3", 3, now=110) == 3
    cells = _cells(t, b"rowA", columns={"fam1": [b"qual3"]})
    assert to_long(bytes(cells[0][3])) == 3
    # survives the next segment boundary
    t.mutate([Put(b"rowZ").add("fam1", b"qual1", to_bytes(0))], now=120)
    cells = _cells(t, b"rowA", columns={"fam1": [b"qual3"]})
    assert to_long(bytes(cells[0][3])) == 3


def test_icv_bump_snapshot(store):
    """:1888 — an ICV over a snapshotted memstore writes a NEW version
    at a NEWER timestamp; both versions visible at maxVersions."""
    t = _mk(store, "testtable", "fam1", binary=True)
    t.mutate([Put(b"rowA").add("fam1", b"qual1", to_bytes(42))], now=100)
    assert t.increment_column_value(b"rowA", "fam1", b"qual1", 44, now=200) == 86
    cells = _cells(t, b"rowA", columns={"fam1": [b"qual1"]}, maxv=None)
    assert len(cells) == 2
    assert cells[0][2] != cells[1][2]  # "ICV failed to upgrade timestamp"
    assert to_long(bytes(cells[0][3])) == 86


# ------------------------------------------- testIndexesScanWithOneDeletedRow:2640


def test_indexes_scan_with_one_deleted_row(store):
    t = _mk(store, "idxscan", "family", binary=True)
    t.mutate([Put(to_bytes(1)).add("family", b"qual1", to_bytes(1), ts=1)],
             now=5)
    # 'flush', then whole-row delete bounded at ts=1
    t.mutate([Delete(to_bytes(1), ts=1)], now=6)
    t.mutate([Put(to_bytes(2)).add("family", b"qual1", to_bytes(2), ts=2)],
             now=7)

    flt = FilterList(FilterList.MUST_PASS_ALL, [
        SingleColumnValueFilter("family", b"qual1",
                                CompareOp.GREATER_OR_EQUAL,
                                BinaryComparator(to_bytes(0))),
        SingleColumnValueFilter("family", b"qual1",
                                CompareOp.LESS_OR_EQUAL,
                                BinaryComparator(to_bytes(3))),
    ])
    rows = t.client().scan(Scan(families=["family"], filter=flt)).collect()
    assert len(rows) == 1
    assert bytes(rows[0].row) == to_bytes(2)


# ------------------------------- testGetScanner_With{Ok,NotOk,No}Families:1332


def test_get_scanner_with_ok_families(store):
    t = _mk(store, "scanfams", "fam1", "fam2")
    t.mutate([Put("row1").add("fam1", "q", "v").add("fam2", "q", "v")],
             now=10)
    assert t.client().scan(
        Scan(families=["fam1", "fam2"])).count() == 2


def test_get_scanner_with_not_ok_families(store):
    t = _mk(store, "scanfams2", "fam1")
    with pytest.raises(NoSuchColumnFamilyError):
        t.client().scan(Scan(families=["fam2"]))


def test_get_scanner_with_no_families(store):
    """a scan with NO family restriction reads every declared family."""
    t = _mk(store, "scanfams3", "fam1", "fam2", "fam3")
    t.mutate([Put("row1").add("fam1", "q", "v").add("fam2", "q", "v")
              .add("fam3", "q", "v")], now=10)
    assert t.client().scan(Scan()).count() == 3


# --------------------------------------------------- testWeirdCacheBehaviour:210


def test_weird_cache_behaviour(store):
    """HBASE-2248 regression shape: Prefix+SCVF(filterIfMissing) scans
    across two value generations; after latest-deleting the tested
    column per row, the SCVF's latest-version view falls back to the
    OLDER value and the value2 matches drop to zero."""
    fams = ["trans-blob", "trans-type", "trans-date", "trans-tags",
            "trans-group"]
    t = _mk(store, "weirdcache", *fams)
    value, value2 = "this is the value", "this is some other value"

    def put_rows(val, prefix, now):
        t.mutate([
            Put(f"{prefix}_{i}")
            .add("trans-blob", None, "value for blob")
            .add("trans-type", None, "statement")
            .add("trans-date", None, "20090921010101999")
            .add("trans-tags", "qual2", val)
            .add("trans-group", None, "adhocTransactionGroupId")
            for i in range(3)
        ], now=now)

    def n_rows(prefix, val):
        flt = FilterList(FilterList.MUST_PASS_ALL, [
            PrefixFilter(prefix),
            SingleColumnValueFilter("trans-tags", "qual2",
                                    CompareOp.EQUAL, val,
                                    filter_if_missing=True),
        ])
        rows = t.client().scan(Scan(families=list(fams), filter=flt)).collect()
        return len({c.row for c in rows})

    for i, p in enumerate(("prefix1", "prefix2", "prefix3")):
        put_rows(value, p, now=100 + i)
    for i, p in enumerate(("prefix1", "prefix2", "prefix3")):
        put_rows(value2, p, now=200 + i)

    for p in ("prefix1", "prefix2", "prefix3"):
        assert n_rows(p, value2) == 3

    # delete the latest version of the tested column on every matching
    # row (deleteColumns helper at :249)
    for p in ("prefix1", "prefix2", "prefix3"):
        t.mutate([Delete(f"{p}_{i}").delete_column("trans-tags", "qual2")
                  for i in range(3)], now=300)

    for p in ("prefix1", "prefix2", "prefix3"):
        assert n_rows(p, value2) == 0
        # ...and the OLDER generation is the latest again
        assert n_rows(p, value) == 3


# --------------- testAllColumnsWithBloomFilter:2687 / testDeleteRowWithBloomFilter:2735


def test_all_columns_with_bloom_filter(store, spark, tmp_path):
    """a row-bloomed bulk-loaded store file must NOT prune an
    all-columns multi-version get — all 4 versions come back
    newest-first."""
    from tests.cells import cells_df, put as mk_put
    from hbase_snapshot_spark.sources.tools import bulk_load

    t = _mk(store, "allcolsbloom", "family", versions=100)
    seg = str(tmp_path / "bloomseg")
    cells = cells_df(spark, [
        mk_put("row:0", "family", "column:0", ts, f"value-version-{ts}")
        for ts in (1, 2, 3, 4)
    ])
    bulk_load(cells, seg, num_partitions=1)
    t.adopt_segment(seg)

    got = t.client().get(Get("row:0", max_versions=None)).collect()
    got = sorted(got, key=lambda c: -c.ts)
    assert [(c.ts, c.value) for c in got] == [
        (4, "value-version-4"), (3, "value-version-3"),
        (2, "value-version-2"), (1, "value-version-1")]


def test_delete_row_with_bloom_filter(store, spark, tmp_path):
    """HBASE-2823: a whole-row delete over a row-bloomed bulk-loaded
    store file must mask the row for point-column gets."""
    from tests.cells import cells_df, put as mk_put
    from hbase_snapshot_spark.sources.tools import bulk_load

    t = _mk(store, "delbloom", "familyName")
    seg = str(tmp_path / "delbloomseg")
    bulk_load(cells_df(spark, [
        mk_put("row1", "familyName", "col1", 1, "SomeRandomValue")
    ]), seg, num_partitions=1)
    t.adopt_segment(seg)
    assert _size(t, "row1", columns={"familyName": ["col1"]}) == 1

    t.mutate([Delete("row1")], now=100)
    assert _size(t, "row1", columns={"familyName": ["col1"]}) == 0


# ------------------- regionserver/TestGetClosestAtOrBefore.java:181,289


def test_get_closest_row_before3(store):
    """HBASE-751: multiple deletes, deletes as the final key, and
    family-restricted candidates — the closest-at-or-before walk must
    skip deleted candidates and rows whose only cells are in OTHER
    families."""
    t = _mk(store, "closest3", "fam1", "fam2")

    def closest(key, fam):
        rows = t.client().get_row_or_before(key, family=fam).collect()
        return rows[0].row if rows else None

    for i, key in enumerate(("000", "010", "020")):
        t.mutate([Put(key).add("fam1", "q", key)], now=10 + i)
    assert closest("020", "fam1") == "020"

    t.mutate([Delete("020").delete_column("fam1", "q")], now=20)
    assert closest("020", "fam1") == "010"

    t.mutate([Put("030").add("fam1", "q", "030")], now=21)
    assert closest("030", "fam1") == "030"
    t.mutate([Delete("030").delete_column("fam1", "q")], now=22)
    assert closest("030", "fam1") == "010"
    assert closest("031", "fam1") == "010"

    # a row whose only cell lives in ANOTHER family is not a candidate
    t.mutate([Put("020").add("fam2", "q", "020")], now=23)
    assert closest("030", "fam1") == "010"
    assert closest("031", "fam1") == "010"

    # delete that other-family cell; fam1 candidates unchanged
    t.mutate([Delete("020").delete_column("fam2", "q")], now=24)
    assert closest("030", "fam1") == "010"
    assert closest("031", "fam1") == "010"

    # candidate from an older segment with unrelated in-memory delete
    t.mutate([Put("011").add("fam1", "q", "011")], now=25)
    t.mutate([Delete("010").delete_column("fam2", "q")], now=26)
    assert closest("012", "fam1") == "011"


def test_get_closest_row_before2(store):
    """HBASE-694: the at-or-before walk across segment boundaries —
    finding '035' always lands on '030' as segments accumulate."""
    t = _mk(store, "closest2", "fam1")

    def closest(key):
        rows = t.client().get_row_or_before(key, family="fam1").collect()
        return rows[0].row if rows else None

    for i, key in enumerate(("010", "030", "040")):
        t.mutate([Put(key).add("fam1", "q", key)], now=10 + i)
    assert closest("035") == "030"
    # new segment with an EARLIER row must not steal the candidacy
    t.mutate([Put("020").add("fam1", "q", "020")], now=20)
    assert closest("035") == "030"


# ------------------------------- review-pass regressions (round 6)


def test_delete_ctor_ts_defaults_into_delete_methods(store):
    """Delete(row, ts).delete_family/columns/column default to the
    CONSTRUCTOR's row-level ts (Delete.java: this.ts is the default),
    so a bounded row delete stays bounded through the per-family
    calls — future cells survive."""
    t = _mk(store, "ctorts", "f")
    t.mutate([Put("r").add("f", "q", "future", ts=1000)], now=10)
    t.mutate([Put("r").add("f", "q2", "old", ts=5)], now=11)
    # bounded at 100: masks the ts=5 cell, NOT the ts=1000 one
    t.mutate([Delete("r", ts=100).delete_family("f")], now=12)
    cells = _cells(t, "r")
    assert [(c[1], c[3]) for c in cells] == [("q", "future")]
    # delete_columns inherits the bound the same way
    t.mutate([Put("r2").add("f", "q", "keep", ts=1000)
              .add("f", "q", "drop", ts=50)], now=13)
    t.mutate([Delete("r2", ts=100).delete_columns("f", "q")], now=14)
    assert [(c[2], c[3]) for c in _cells(t, "r2", maxv=None)] == [(1000, "keep")]


# =================================================== the concurrency tier
#
# TestHRegion's thread-interleaving methods (FlushThread / PutThread /
# GetTillDoneOrException harnesses).  Mapping notes:
# - ``region.flushcache()`` is a no-op boundary here (every mutate batch
#   already commits a durable segment), so the concurrency target these
#   methods actually stress — a reader concurrent with a storefile set
#   swap — maps to ``compact()`` swapping the manifest under an open
#   reader/iterator.
# - iteration counts are scaled down (each mutate is a Spark job on
#   local[*]); the interleaving structure (reader mid-flight while the
#   writer/compactor commits) is preserved.

import threading as _threading_mod


class _CompactThread(_threading_mod.Thread):
    """FlushThread analogue (TestHRegion.java:2341): compacts on demand
    when poked, records any error instead of swallowing it."""

    def __init__(self, table):
        super().__init__(daemon=True)
        self.table = table
        self._wake = _threading_mod.Event()
        self._done = False
        self.error = None

    def run(self):
        while True:
            self._wake.wait()
            self._wake.clear()
            if self._done:
                return
            try:
                self.table.compact(major=True)
            except Exception as ex:  # noqa: BLE001
                self.error = ex
                return

    def poke(self):
        self._wake.set()

    def finish(self):
        self._done = True
        self._wake.set()
        self.join(timeout=60)
        assert self.error is None, self.error


# ------------------------------------------ testFlushCacheWhileScanning:2287


def test_flush_cache_while_scanning(store):
    """a scan opened at iteration i sees exactly the rows whose qual1
    matches the SCVF — regardless of a concurrently-running major
    compaction (the reader's manifest binding + store-snapshot pinning
    stand in for the reference's memstore-snapshot consistency)."""
    t = _mk(store, "flushscan", "family")
    compactor = _CompactThread(t)
    compactor.start()

    num_rows, scan_interval = 30, 10
    flt = SingleColumnValueFilter("family", "qual1", CompareOp.EQUAL,
                                  BinaryComparator("v5"))
    expected = 0
    toggle = True
    try:
        for i in range(num_rows):
            t.mutate([Put(f"row{i:03d}").add("family", "qual1", f"v{i % 10}")],
                     now=i + 1)
            if i % 10 == 5:
                expected += 1
            if i != 0 and i % scan_interval == 0:
                it = t.client().scanner(
                    Scan(families=["family"], filter=flt))
                got = []
                if toggle:
                    compactor.poke()       # compact before paging
                for cell in it:
                    got.append(cell.row)
                    if not toggle and len(got) == 1:
                        compactor.poke()   # compact mid-page
                assert len(got) == expected, f"i={i}"
                toggle = not toggle
    finally:
        compactor.finish()


# ----------------------------------------------- testWritesWhileScanning:2401
# ----------------------------------------------- testWritesWhileGetting:2556


class _WideRowPutThread(_threading_mod.Thread):
    """PutThread analogue (TestHRegion.java:2472): full-row puts of
    numFamilies x numQualifiers cells, one generation per iteration,
    with a periodic bounded row Delete(row, ts-bound) like the
    reference's ``new Delete(row, numPutsFinished-30, null)``."""

    def __init__(self, table, families, quals, generations):
        super().__init__(daemon=True)
        self.table = table
        self.families = families
        self.quals = quals
        self.generations = generations
        self.finished = 0
        self.error = None

    def run(self):
        try:
            for g in range(1, self.generations + 1):
                ts = g * 10
                p = Put("row0")
                for f in self.families:
                    for q in self.quals:
                        p.add(f, q, f"gen{g}", ts=ts)
                self.table.mutate([p], now=ts)
                if g % 3 == 0:
                    # bounded row delete 25 ticks back — masks stale
                    # generations, never the newest one
                    self.table.mutate([Delete("row0", ts=ts - 25)],
                                      now=ts + 1)
                self.finished = g
        except Exception as ex:  # noqa: BLE001
            self.error = ex

    def wait_first_put(self):
        import time
        while self.finished == 0 and self.error is None:
            time.sleep(0.05)
        assert self.error is None, self.error


def _assert_one_generation(cells, n_expected, prev_ts):
    """every returned cell must carry ONE write's timestamp (no torn
    read), count must be the full wide row, and time must not run
    backwards across iterations."""
    assert len(cells) == n_expected
    ts_set = {c.ts for c in cells}
    assert len(ts_set) == 1, f"torn read across generations: {ts_set}"
    ts = ts_set.pop()
    assert ts >= prev_ts
    vals = {bytes(c.value) if isinstance(c.value, (bytes, bytearray))
            else c.value for c in cells}
    assert len(vals) == 1
    return ts


def test_writes_while_scanning(store):
    fams = [f"family{i}" for i in range(4)]
    quals = [f"qual{i}" for i in range(8)]
    t = _mk(store, "writescan", *fams)
    putter = _WideRowPutThread(t, fams, quals, generations=6)
    compactor = _CompactThread(t)
    putter.start()
    putter.wait_first_put()
    compactor.start()

    expected = len(fams) * len(quals)
    prev_ts = 0
    try:
        for i in range(8):
            if i == 3:
                compactor.poke()
            cells = t.client().scan(
                Scan(start_row="row0", stop_row="row1")).collect()
            if cells:
                prev_ts = _assert_one_generation(cells, expected, prev_ts)
        putter.join(timeout=300)
        assert putter.error is None, putter.error
        # final state: the last generation, whole-row
        cells = t.client().scan(Scan(start_row="row0", stop_row="row1")).collect()
        _assert_one_generation(cells, expected, prev_ts)
    finally:
        compactor.finish()


def test_writes_while_getting(store):
    fams = [f"family{i}" for i in range(4)]
    quals = [f"qual{i}" for i in range(8)]
    t = _mk(store, "writeget", *fams)
    putter = _WideRowPutThread(t, fams, quals, generations=6)
    compactor = _CompactThread(t)
    putter.start()
    putter.wait_first_put()
    compactor.start()

    expected = len(fams) * len(quals)
    prev_ts = 0
    try:
        for i in range(8):
            if i == 4:
                compactor.poke()
            cells = t.client().get(Get("row0")).collect()
            if cells:
                prev_ts = _assert_one_generation(cells, expected, prev_ts)
        putter.join(timeout=300)
        assert putter.error is None, putter.error
        cells = t.client().get(Get("row0")).collect()
        _assert_one_generation(cells, expected, prev_ts)
    finally:
        compactor.finish()


# ------------------------------------ testIncrementColumnValue_ConcurrentFlush:1925


def test_icv_concurrent_flush(store):
    """ICV racing a compaction returns value+amount and the resolved
    view converges to one visible cell (the engine's ICV writes a new
    version — test_icv_bump_snapshot pins that physical divergence; the
    REFERENCE assertion here is the resolved value)."""
    t = _mk(store, "icvflush", "fam1", binary=True)
    t.mutate([Put(b"rowA").add("fam1", b"qual1", to_bytes(1))], now=100)

    compactor = _CompactThread(t)
    compactor.start()
    compactor.poke()  # compaction in flight while the ICV runs
    try:
        assert t.increment_column_value(b"rowA", "fam1", b"qual1", 3,
                                        now=110) == 4
        cells = _cells(t, b"rowA", columns={"fam1": [b"qual1"]})
        assert len(cells) == 1 and to_long(bytes(cells[0][3])) == 4
    finally:
        compactor.finish()


# ------------------------------------------- testGetScanner_WithRegionClosed:1420
# ------------------------------------------- testGetWhileRegionClose:119


def test_get_scanner_with_region_closed(store):
    """region.close() -> getScanner raises; maps to disable() gating
    new readers (NotServingRegionException analogue)."""
    from hbase_snapshot_spark.table import TableNotEnabledError
    t = _mk(store, "closedscan", "fam1", "fam2")
    t.disable()
    with pytest.raises(TableNotEnabledError):
        t.client()


def test_get_while_region_close(store):
    """gets already in flight during close() complete with full
    consistent rows (their manifest binding is immutable); gets issued
    AFTER the close are refused."""
    from hbase_snapshot_spark.table import TableNotEnabledError
    t = _mk(store, "getclose", "fam1", "fam2", "fam3")
    t.mutate([Put("row100").add(f, q, f"{f}:{q}")
              for f in ("fam1", "fam2", "fam3") for q in ("q1", "q2", "q3")],
             now=10)
    # merge the 9 single-cell puts above into one row view
    client_before = t.client()   # binds HEAD before the close

    errors, gets = [], {"n": 0}
    stop = _threading_mod.Event()

    def getter():
        try:
            while not stop.is_set():
                cells = client_before.get(Get("row100")).collect()
                assert len(cells) == 9
                assert {bytes(c.value).decode() if isinstance(c.value, (bytes, bytearray))
                        else c.value for c in cells} \
                    == {f"{f}:{q}" for f in ("fam1", "fam2", "fam3")
                        for q in ("q1", "q2", "q3")}
                gets["n"] += 1
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [_threading_mod.Thread(target=getter) for _ in range(3)]
    for th in threads:
        th.start()
    t.disable()                  # the "close"
    import time
    time.sleep(0.3)
    stop.set()
    for th in threads:
        th.join(timeout=60)
    assert not errors
    assert gets["n"] > 0
    with pytest.raises(TableNotEnabledError):
        t.client()
