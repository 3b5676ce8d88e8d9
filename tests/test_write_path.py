"""Write-path tests: a mutate batch is one driver-written parquet file
in exactly the cell schema with no Spark job, segments publish by
rename, minor compaction reads with the explicit cell schema, the
writer lock survives a dead holder, a writer killed at any commit point
leaves a table the next writer commits to, a writer killed mid-snapshot
leaves no listed snapshot, a snapshot name is never a path, and vacuum
tolerates crashed writers' temp files."""

import os
import shutil
import signal
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor, cell_schema
from hbase_snapshot_spark.operators.layout import SKIP_MANIFEST_NAME, _data_files
from hbase_snapshot_spark.streaming import replicate
from hbase_snapshot_spark.table import Delete, Put, TableNotFoundError, TableStore

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
    # a prepared dir with one column beyond the cell schema
    bulk_load(cells_df(spark, [put(f"r{i}", "f", "q", 5, f"b{i}")
                               for i in range(6)]).withColumn("extra", F.lit("x")),
              bulk, num_partitions=2)
    t.adopt_segment(bulk)
    schema = cell_schema(binary=False)
    # the extra column never leaks into the logical cell stream
    assert t.cells().columns == schema.names
    t.mutate([Put("r1").add("f", "q", "w1", ts=7)])
    t.mutate([Delete("r2").delete_column("f", "q", ts=5),
              Delete("r3")], now=8)
    want = _cellset(t.read())
    t.compact(segments=t.manifest()["segments"])
    (seg,) = t.manifest()["segments"]
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


# a plain Python child (no JVM) that runs one blind-put mutate and dies
# with os._exit(9) right after the named commit point: the segment
# rename, the vN.json write, or the HEAD swap
_CRASH_CHILD = """
import os, sys
sys.path.insert(0, {repo!r})
from hbase_snapshot_spark import table as T

point = {point!r}
rename, write_json = os.rename, T.write_json_atomic

def crash_rename(src, dst):
    rename(src, dst)
    if point == "segment" and os.path.basename(dst).startswith("seg-"):
        os._exit(9)

def crash_write_json(path, obj):
    write_json(path, obj)
    d, name = os.path.split(path)
    if ((point == "manifest" and os.path.basename(d) == "manifests")
            or (point == "head" and name == "HEAD.json")):
        os._exit(9)

os.rename, T.write_json_atomic = crash_rename, crash_write_json
T.TableStore(None, {base!r}).table({name!r}).mutate(
    [T.Put(r).add("f", "q", "c-" + r, ts=5) for r in {rows!r}])
"""


@pytest.fixture(scope="module")
def crash_table(spark, tmp_path_factory):
    store = TableStore(spark, str(tmp_path_factory.mktemp("crash") / "tables"))
    t = _mk(store, "crash")
    t.mutate([Put(f"base{i}").add("f", "q", f"b{i}", ts=1) for i in range(3)])
    return t


@pytest.mark.parametrize("point", ["segment", "manifest", "head"])
def test_writer_killed_at_commit_point(crash_table, point):
    """A writer killed at a commit point never wedges or corrupts the
    table: the next writer commits, the read is the pre-crash read plus
    exactly the committed batches, and vacuum removes the orphan."""
    t = crash_table
    pre = _cellset(t.read())
    crash_rows = [f"{point}-crash{i}" for i in range(2)]
    child = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD.format(
            repo=REPO, point=point, base=t.store.base_path, name=t.name,
            rows=crash_rows)],
        timeout=120)
    assert child.returncode == 9

    segdir = os.path.join(t.dir, "segments")
    orphans = sorted(set(os.listdir(segdir)) - set(t.manifest()["segments"]))
    committed = point == "head"
    assert len(orphans) == (0 if committed else 1), orphans
    # only the vN.json crash leaves a manifest past HEAD behind
    ahead = os.path.join(t.dir, "manifests", f"v{t.manifest()['version'] + 1}.json")
    assert os.path.exists(ahead) == (point == "manifest")

    v = t.mutate([Put(f"{point}-next").add("f", "q", "n", ts=7)])
    assert t.manifest()["version"] == v
    want = pre | {(f"{point}-next", "f", "q", 7, "n")}
    if committed:
        want |= {(r, "f", "q", 5, "c-" + r) for r in crash_rows}
    assert _cellset(t.read()) == want

    assert t.vacuum() == orphans
    assert _cellset(t.read()) == want


# a plain Python child (no JVM) that snapshots the table and dies with
# os._exit(9) right after the snapshot's directory under .snapshot/ is
# created, before its snapshotinfo.json is published
_SNAPSHOT_CRASH_CHILD = """
import os, sys
sys.path.insert(0, {repo!r})
from hbase_snapshot_spark import table as T

makedirs = os.makedirs

def crash_makedirs(path, *args, **kwargs):
    makedirs(path, *args, **kwargs)
    if os.path.basename(os.path.dirname(path)) == T.SNAPSHOT_DIR:
        os._exit(9)

os.makedirs = crash_makedirs
T.TableStore(None, {base!r}).table({name!r}).snapshot({snap!r})
"""


def test_writer_killed_mid_snapshot_leaves_no_listed_snapshot(store):
    t = _mk(store, "snapcrash")
    t.mutate([Put("r1").add("f", "q", "v1", ts=1)])
    child = subprocess.run(
        [sys.executable, "-c", _SNAPSHOT_CRASH_CHILD.format(
            repo=REPO, base=t.store.base_path, name=t.name, snap="s1")],
        timeout=120)
    assert child.returncode == 9
    assert t.list_snapshots() == []
    assert t.referenced_segments() == set(t.manifest()["segments"])
    assert t.vacuum() == []
    assert os.listdir(os.path.join(t.dir, ".snapshot")) == []
    t.snapshot("s1")
    assert t.list_snapshots() == ["s1"]
    assert t.snapshot_manifest("s1")["segments"] == t.manifest()["segments"]
    for op in (t.restore_snapshot, t.delete_snapshot, t.snapshot_manifest):
        with pytest.raises(TableNotFoundError):
            op("nope")


def test_snapshot_name_must_be_one_plain_entry(store):
    """a snapshot name is never a path: ``..`` would name the table's
    own directory, ``.`` every snapshot, and a ``.tmp-`` name a
    snapshot that is never listed. All are refused before the disk is
    touched, and the table stays whole."""
    t = _mk(store, "snapname")
    t.mutate([Put("r1").add("f", "q", "v1", ts=1)])
    t.snapshot("keep")
    for bad in ("..", ".", "", ".tmp-x", "a/b", "../x", "/abs"):
        with pytest.raises(ValueError):
            t.snapshot(bad)
        with pytest.raises(ValueError):
            store.snapshot(bad, t.name)
    assert t.list_snapshots() == ["keep"]
    assert store.list_snapshots() == []
    assert _cellset(t.read()) == {("r1", "f", "q", 1, "v1")}
