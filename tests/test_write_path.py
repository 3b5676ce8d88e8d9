"""Write-path tests: a mutate batch is one driver-written parquet file
in exactly the cell schema with no Spark job, segments publish by
rename, minor compaction reads with the explicit cell schema, the
writer lock survives a dead holder, and vacuum tolerates crashed
writers' temp files."""

import os
import shutil
import signal
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor, cell_schema
from hbase_snapshot_spark.operators.layout import SKIP_MANIFEST_NAME, _data_files
from hbase_snapshot_spark.streaming import replicate
from hbase_snapshot_spark.table import Delete, Put, TableStore

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "tables"))


def _mk(store, name="t", binary=False, scope=0):
    return store.create_table(
        TableDescriptor(name).add_family(
            FamilyDescriptor("f", max_versions=3, replication_scope=scope)),
        binary=binary)


def _cellset(df):
    return {(bytes(r.row) if isinstance(r.row, bytearray) else r.row,
             r.family, r.qualifier, r.ts, r.value) for r in df.collect()}


def _seg_dir(t, seg):
    return os.path.join(t.dir, "segments", seg)


def _jobs(spark, group, fn):
    """run ``fn`` under a fresh job group; return (result, Spark job count)"""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("binary", [False, True])
def test_mutate_segment_is_one_file_in_cell_schema(store, binary):
    t = _mk(store, binary=binary)
    k = (lambda s: s.encode()) if binary else (lambda s: s)
    # bytearray/memoryview values land as plain binary on binary tables
    val = memoryview(b"v2") if binary else "v2"
    t.mutate([Put(k("r1")).add("f", k("q"), k("v1"), ts=10),
              Put(k("r2")).add("f", None, val, ts=11),
              Delete(k("r3"))], now=20)
    seg = _seg_dir(t, t.manifest()["segments"][-1])
    files = _data_files(seg)
    assert len(files) == 1
    # no .crc / _SUCCESS sidecars: the data file and its skip manifest
    assert sorted(os.listdir(seg)) == sorted(
        [SKIP_MANIFEST_NAME, os.path.basename(files[0])])
    expect = to_arrow_schema(cell_schema(binary=binary))
    got = pq.read_schema(files[0])
    assert got == expect
    assert [f.nullable for f in got] == [f.nullable for f in expect]
    assert _cellset(t.read()) == {
        (k("r1"), "f", k("q"), 10, k("v1")), (k("r2"), "f", k(""), 11, k("v2"))}


def test_blind_put_batch_launches_no_spark_job(spark, store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    _, n = _jobs(spark, "write-path-puts", lambda: t.mutate(
        [Put(f"r{i}").add("f", "q", f"v{i}") for i in range(20)]))
    assert n == 0
    # a no-ts deleteColumn runs only its latest-version lookup
    key = ("r1", "f", "q")
    _, n_lookup = _jobs(spark, "write-path-lookup",
                        lambda: t._latest_ts_map({key: 1}, t.manifest()))
    _, n_delete = _jobs(spark, "write-path-delete", lambda: t.mutate(
        [Delete("r1").delete_column("f", "q")]))
    assert n_lookup >= 1 and n_delete == n_lookup
    assert {r.value for r in t.read().collect() if r.row == "r1"} == {"v1"}


def test_replicate_ships_mutate_segments_and_skips_temp_dirs(spark, tmp_path):
    src = _mk(TableStore(spark, str(tmp_path / "src")), scope=1)
    dst = _mk(TableStore(spark, str(tmp_path / "dst")), scope=1)
    src.mutate([Put("a").add("f", "q", "1", ts=1),
                Put("b").add("f", "q", "2", ts=1)])
    src.mutate([Delete("a").delete_column("f", "q"),
                Put("c").add("f", "q", "3", ts=2)])
    # a crashed writer's unpublished segment: hidden from the WAL glob
    # and from reads, reaped by vacuum
    ghost = _mk(TableStore(spark, str(tmp_path / "ghost")))
    ghost.mutate([Put("ghost").add("f", "q", "x", ts=1)])
    tmp_seg = _seg_dir(src, ".tmp-seg-000099-wal-00000000")
    shutil.copytree(_seg_dir(ghost, ghost.manifest()["segments"][0]), tmp_seg)
    want = _cellset(src.read())
    assert {c[0] for c in want} == {"b", "c"}
    # the default on_uncommitted="fail" would raise had the glob
    # picked up the uncommitted temp segment
    replicate(spark, src, dst, str(tmp_path / "ckpt"), once=True)
    assert _cellset(dst.read()) == want
    assert "ghost" not in {r.row for r in dst.cells().collect()}
    assert ".tmp-seg-000099-wal-00000000" in src.vacuum()
    assert not os.path.exists(tmp_seg)
    assert _cellset(src.read()) == want


def test_minor_compaction_reads_the_cell_schema(spark, store, tmp_path):
    from hbase_snapshot_spark.sources.tools import bulk_load
    from tests.cells import cells_df, put

    t = _mk(store)
    bulk = str(tmp_path / "bulk")
    bulk_load(cells_df(spark, [put(f"r{i}", "f", "q", 5, f"b{i}")
                               for i in range(6)]),
              bulk, num_partitions=2, bloom="ROWCOL")
    t.adopt_segment(bulk)
    t.mutate([Put("r1").add("f", "q", "w1", ts=7)])
    t.mutate([Delete("r2").delete_column("f", "q", ts=5),
              Delete("r3")], now=8)
    want = _cellset(t.read())
    t.compact(segments=t.manifest()["segments"])
    (seg,) = t.manifest()["segments"]
    schema = cell_schema(binary=False)
    for f in _data_files(_seg_dir(t, seg)):
        assert pq.read_schema(f).names == schema.names
    assert [(f.name, f.dataType) for f in spark.read.parquet(
        _seg_dir(t, seg)).schema] == [(f.name, f.dataType) for f in schema]
    assert _cellset(t.read()) == want


def _hold_lock_child(table_dir):
    """a plain Python child (no JVM) that takes the table's writer lock
    and holds it until killed"""
    code = textwrap.dedent(f"""
        import sys, time
        sys.path.insert(0, {REPO!r})
        from hbase_snapshot_spark.table import StoredTable
        t = StoredTable.__new__(StoredTable)
        t.dir, t.name = {table_dir!r}, "child"
        with t._lock():
            print("locked", flush=True)
            time.sleep(120)
    """)
    return subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.PIPE, text=True)


def test_writer_lock_ignores_a_dead_pid_lock_file(store):
    t = _mk(store)
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait(30)
    with open(os.path.join(t.dir, "WRITER.lock"), "w") as f:
        f.write(str(dead.pid))
    with t._lock(timeout_s=2):
        t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    assert _cellset(t.read()) == {("r1", "f", "q", 10, "v1")}


def test_writer_lock_released_when_holder_is_killed(store):
    t = _mk(store)
    child = _hold_lock_child(t.dir)
    try:
        assert child.stdout.readline().strip() == "locked"
        with pytest.raises(TimeoutError):
            with t._lock(timeout_s=0.3):
                pass
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait(30)
        child.stdout.close()
    assert child.returncode == -signal.SIGKILL
    with t._lock(timeout_s=5):
        t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    assert _cellset(t.read()) == {("r1", "f", "q", 10, "v1")}


def test_vacuum_removes_stray_temp_manifests(store):
    t = _mk(store)
    t.mutate([Put("r1").add("f", "q", "v1", ts=10)])
    t.mutate([Put("r1").add("f", "q", "v2", ts=11)])
    mdir = os.path.join(t.dir, "manifests")
    # a writer that crashed mid-publish leaves its temp manifest behind
    for stray in ("v3.json.tmp-1234abcd", ".v3.json.tmp-5678ef90"):
        with open(os.path.join(mdir, stray), "w") as f:
            f.write("{")
    assert [h["version"] for h in t.history()] == [2, 1, 0]
    t.vacuum()
    assert os.listdir(mdir) == ["v2.json"]
    assert _cellset(t.read()) == {("r1", "f", "q", 11, "v2"),
                                  ("r1", "f", "q", 10, "v1")}
