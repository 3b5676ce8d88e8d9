"""Point-read parity on a multi-segment table: every engine point read
(thrift get/getVer/getVerTs/getRow, avro get/exists, the reads inside
checkAndPut / checkAndDelete / incrementColumnValue and a no-ts
Delete.deleteColumn) is a client Get over the file-pruned selection,
and each must agree with an independent reference: ``resolve`` over
the table's FULL cell stream filtered to the row.

The table: one bulk-loaded segment (4 row-sorted files, all PUT) plus
WAL segments carrying all three delete kinds, and a TTL family whose
old cells have expired.  Rows come in four groups of ten (case ``j``
uses row ``j`` of each group, so the mutating cases never share rows):

  A r000-r009  untouched bulk versions
  B r010-r019  exact DELETE of f:a@300, DELETE_COLUMN f:a@150, fresh t:x
  C r020-r029  DELETE_FAMILY f@250, newer put f:a@500, fresh t:x
  D r030-r039  DELETE_FAMILY f@1000: nothing visible (t:x expired)
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from hbase_snapshot_spark.avro_api import AGet, AvroServer
from hbase_snapshot_spark.model import FOREVER, FamilyDescriptor, KeyType, TableDescriptor
from hbase_snapshot_spark.resolve import ResolveSpec, resolve
from hbase_snapshot_spark.sources.tools import bulk_load
from hbase_snapshot_spark.table import Delete, Put, StoredTable, TableStore
from hbase_snapshot_spark.thrift_api import ThriftServer
from tests.cells import cells_df, put

TTL_S = 3600
LONG_MIN = -(1 << 63)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("point_reads")
    store = TableStore(spark, str(base / "tables"))
    t = store.create_table(
        TableDescriptor("pt")
        .add_family(FamilyDescriptor("f", max_versions=3))
        .add_family(FamilyDescriptor("t", max_versions=1, ttl=TTL_S)))
    now = int(time.time() * 1000)
    old, fresh = now - 2 * TTL_S * 1000, now - 60_000
    rows = []
    for i in range(100):
        k = f"r{i:03d}"
        rows += [put(k, "f", "a", ts, f"a{i}@{ts}") for ts in (100, 200, 300)]
        rows += [put(k, "f", "n", 100, str(10 * i)), put(k, "t", "x", old, "old")]
    prep = str(base / "prep")
    bulk_load(cells_df(spark, rows), prep, num_partitions=4)
    t.adopt_segment(prep, move=True)
    group = lambda g: [f"r{g * 10 + j:03d}" for j in range(10)]  # noqa: E731
    t.mutate([Delete(k).delete_column("f", "a", ts=300)
              .delete_columns("f", "a", ts=150) for k in group(1)])
    t.mutate([Delete(k).delete_family("f", ts=250) for k in group(2)]
             + [Delete(k).delete_family("f", ts=1000) for k in group(3)])
    t.mutate([Put(k).add("f", "a", f"new{k}", ts=500) for k in group(2)]
             + [Put(k).add("t", "x", "fresh", ts=fresh)
                for k in group(1) + group(2)])
    return store, t


def reference(t, k, **knobs):
    """resolve over the FULL cell stream, filtered to row ``k``, under
    the descriptor's caps written out by hand"""
    spec = ResolveSpec(family_max_versions={"f": 3, "t": 1},
                       family_ttl={"f": FOREVER, "t": TTL_S}, **knobs)
    out = resolve(t.cells().filter(F.col("row") == F.lit(k)), spec=spec)
    return sorted(((c.family, c.qualifier, c.ts, c.value) for c in out.collect()),
                  key=lambda c: (c[0], c[1], -c[2]))


def latest(t, k, fam, qual):
    cells = reference(t, k, columns={fam: [qual]})
    return cells[0] if cells else None


def check_thrift_get(store, t, k):
    got = ThriftServer(store).get("pt", k, "f:a")
    assert [(c.value, c.timestamp) for c in got] == [
        (v, ts) for _f, _q, ts, v in reference(t, k, columns={"f": ["a"]})]


def check_thrift_get_ver(store, t, k):
    got = ThriftServer(store).getVer("pt", k, "f:a", 3)
    assert [(c.value, c.timestamp) for c in got] == [
        (v, ts) for _f, _q, ts, v in
        reference(t, k, max_versions=3, columns={"f": ["a"]})]


def check_thrift_get_ver_ts(store, t, k):
    got = ThriftServer(store).getVerTs("pt", k, "f:a", 250, 3)
    assert [(c.value, c.timestamp) for c in got] == [
        (v, ts) for _f, _q, ts, v in
        reference(t, k, max_versions=3, columns={"f": ["a"]},
                  time_range=(LONG_MIN, 250))]


def check_thrift_get_row(store, t, k):
    got = ThriftServer(store).getRow("pt", k)
    want = {f"{f}:{q}": (v, ts) for f, q, ts, v in reference(t, k)}
    assert {c: (tc.value, tc.timestamp) for r in got
            for c, tc in r.columns.items()} == want
    assert len(got) == (1 if want else 0)


def check_avro_get(store, t, k):
    got = AvroServer(store).get("pt", AGet(k, maxVersions=2))
    assert [(e.family, e.qualifier, e.timestamp, e.value)
            for e in got.entries] == reference(t, k, max_versions=2)


def check_avro_exists(store, t, k):
    assert AvroServer(store).exists("pt", AGet(k)) == bool(reference(t, k))


def check_check_and_put(store, t, k):
    cur = latest(t, k, "f", "a")
    p = Put(k).add("f", "a", f"cap{k}", ts=2000)
    assert t.check_and_put(k, "f", "a", "no-such-value", p) is False
    assert t.check_and_put(k, "f", "a", cur and cur[3], p) is True
    assert latest(t, k, "f", "a")[2:] == (2000, f"cap{k}")


def check_check_and_delete(store, t, k):
    cur = latest(t, k, "f", "a")
    d = Delete(k).delete_columns("f", "a", ts=700)
    assert t.check_and_delete(k, "f", "a", "no-such-value", d) is False
    assert t.check_and_delete(k, "f", "a", cur and cur[3], d) is True
    assert latest(t, k, "f", "a") is None


def check_increment(store, t, k):
    cur = latest(t, k, "f", "n")
    base = int(cur[3]) if cur else 0
    assert t.increment_column_value(k, "f", "n", 5) == base + 5
    assert int(latest(t, k, "f", "n")[3]) == base + 5


def check_delete_latest(store, t, k):
    cur = latest(t, k, "f", "a")
    before = int(time.time() * 1000)
    t.mutate([Delete(k).delete_column("f", "a")])
    tombs = {c.ts for c in t.cells().filter(
        (F.col("row") == k) & (F.col("qualifier") == "a")
        & (F.col("type") == KeyType.DELETE)).collect()}
    if cur is None:
        assert max(tombs) >= before        # no version: stamped `now`
    else:
        assert cur[2] in tombs             # the newest visible version


CASES = [check_thrift_get, check_thrift_get_ver, check_thrift_get_ver_ts,
         check_thrift_get_row, check_avro_get, check_avro_exists,
         check_check_and_put, check_check_and_delete, check_increment,
         check_delete_latest]


@pytest.mark.parametrize("check", CASES, ids=[c.__name__[6:] for c in CASES])
def test_point_read_parity_and_pruning(table, check, monkeypatch):
    store, t = table
    reads = []
    source = StoredTable._source

    def spy(self, m, spec, ranges=()):
        cells, spec = source(self, m, spec, ranges)
        whole = self._files(m, None, None)[0]
        reads.append((len(set(cells.inputFiles())),
                      len(set(whole.inputFiles()))))
        return cells, spec

    monkeypatch.setattr(StoredTable, "_source", spy)
    j = CASES.index(check)
    for g in range(4):
        check(store, t, f"r{g * 10 + j:03d}")
    # every point read took the pruned selection, and it listed fewer
    # files than HEAD holds (one bulk file of four, plus the WAL files)
    assert reads
    assert all(n < total for n, total in reads), reads
