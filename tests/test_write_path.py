"""Write-path tests: a mutate batch is one driver-written parquet file
in exactly the cell schema with no Spark job, every writer's segment
publishes by rename (a failed Spark write or a killed adopt leaves no
``seg-`` entry outside the manifest), clone_to waits for the target's
writer, a minor compaction is a driver-side raw merge of the newest
small run into one file in the cell schema (never the settled bulk
segment, never past the byte cap), the writer lock survives a dead
holder, a writer or merge killed at any commit point leaves a table the
next writer commits to, a writer killed mid-snapshot leaves no listed
snapshot, a snapshot name is never a path, and vacuum tolerates crashed
writers' temp files."""

import os
import shutil
import signal
import subprocess
import sys
import textwrap
import threading
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor, cell_schema
from hbase_snapshot_spark.operators.layout import SKIP_MANIFEST_NAME, _data_files
from hbase_snapshot_spark import table as table_mod
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


def _raw(t):
    """the raw cell multiset: tombstones, masked puts and seq included"""
    return Counter(tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
                   for r in t.cells().collect())


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


def _small_run(t, k=lambda s: s, n=3):
    """``n`` small mutate segments holding a family tombstone, a
    version tombstone and a masked put"""
    t.mutate([Put(k(f"r{i}")).add("f", k("q"), k(f"a{i}"), ts=1)
              for i in range(3)])
    t.mutate([Put(k("r0")).add("f", k("q"), k("b0"), ts=2),
              Delete(k("r1")),
              Delete(k("r2")).delete_column("f", k("q"), ts=1)], now=3)
    for j in range(n - 2):
        t.mutate([Put(k(f"s{j}")).add("f", k("q"), k(f"c{j}"), ts=4 + j)])


def test_minor_selection_leaves_the_settled_segment(spark, store):
    """[big, small, small]: the big segment is >= 2x the next, so only
    the newest small run merges and big stays the first entry"""
    t = _mk(store)
    t.mutate([Put(f"r{i:04d}").add("f", "q", "base", ts=1) for i in range(300)])
    big = t.manifest()["segments"][0]
    t.mutate([Put("s0").add("f", "q", "v0", ts=10)])
    t.mutate([Put("s1").add("f", "q", "v1", ts=11)])
    small = t.manifest()["segments"][1:]
    want = _cellset(t.read())
    assert t.select_minor_compaction() == small
    t.maybe_compact()
    segs = t.manifest()["segments"]
    assert segs[0] == big and len(segs) == 2 and "-compact-" in segs[1]
    assert _cellset(t.read()) == want


def test_minor_merge_respects_the_byte_cap(store, monkeypatch):
    t = _mk(store)
    _small_run(t, n=4)
    segs = t.manifest()["segments"]
    sizes = [t._segment_size(s) for s in segs]
    # a cap that fits only the newest two segments: the oldest are
    # skipped even though their sizes are similar
    monkeypatch.setattr(table_mod, "_MINOR_MERGE_BYTES", sum(sizes[2:]))
    assert t.select_minor_compaction() == segs[2:]
    # a cap below any two-segment run: nothing is selected, and an
    # explicit merge over it raises and commits nothing
    monkeypatch.setattr(table_mod, "_MINOR_MERGE_BYTES", sum(sizes[2:]) - 1)
    assert t.select_minor_compaction() == []
    assert t.maybe_compact() is None
    v = t.manifest()["version"]
    with pytest.raises(ValueError, match="compact"):
        t.compact(segments=segs[2:])
    assert t.manifest()["version"] == v and t.manifest()["segments"] == segs
    assert sorted(os.listdir(os.path.join(t.dir, "segments"))) == sorted(segs)


def test_small_maybe_compact_launches_no_spark_job(spark, store):
    t = _mk(store)
    _small_run(t)
    v, n = _jobs(spark, "minor-merge", t.maybe_compact)
    assert v is not None and n == 0
    assert len(t.manifest()["segments"]) == 1


@pytest.mark.parametrize("binary", [False, True])
def test_minor_merge_is_one_sorted_file_with_a_row_manifest(store, binary):
    t = _mk(store, binary=binary)
    k = (lambda s: s.encode()) if binary else (lambda s: s)
    _small_run(t, k)
    t.maybe_compact()
    (seg,) = t.manifest()["segments"]
    assert "-compact-" in seg
    (f,) = _data_files(_seg_dir(t, seg))
    assert sorted(os.listdir(_seg_dir(t, seg))) == sorted(
        [SKIP_MANIFEST_NAME, os.path.basename(f)])
    expect = to_arrow_schema(cell_schema(binary=binary))
    got = pq.read_schema(f)
    assert got == expect
    assert [x.nullable for x in got] == [x.nullable for x in expect]
    skip = table_mod._read_json(os.path.join(_seg_dir(t, seg), SKIP_MANIFEST_NAME))
    assert skip["columns"] == ["row", "ts", "type"]
    stats = skip["files"][os.path.basename(f)]
    assert all(None not in stats[c] for c in ("row", "ts", "type"))
    assert stats["ts"] == [1, 4] and stats["type"][0] < stats["type"][1]
    # KeyValue order: row, family, qualifier (null first), ts/seq desc
    rows = pq.read_table(f).to_pylist()
    keys = [(r["row"], r["family"], r["qualifier"] is not None,
             r["qualifier"] or k(""), -r["ts"], -r["seq"]) for r in rows]
    assert keys == sorted(keys)


def test_minor_merge_keeps_the_raw_cell_multiset(store):
    """a raw merge: tombstones, masked puts and seq all survive"""
    t = _mk(store)
    _small_run(t)
    before, want = _raw(t), _cellset(t.read())
    assert sum(before.values()) == 7
    t.maybe_compact()
    assert len(t.manifest()["segments"]) == 1
    assert _raw(t) == before
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


# a plain Python child (no JVM) that runs one write (a blind-put mutate,
# a minor merge or an adopt) and dies with os._exit(9) right after the
# named point: the first copied file, the segment rename, the vN.json
# write, or the HEAD swap.  copytree's default copy_function (copy2) is
# bound when shutil is imported, so the copy point patches the
# copyfile that copy2 calls.
_CRASH_CHILD = """
import os, shutil, sys
sys.path.insert(0, {repo!r})
from hbase_snapshot_spark import table as T

point = {point!r}
rename, write_json, copyfile = os.rename, T.write_json_atomic, shutil.copyfile

def crash_copyfile(src, dst, **kwargs):
    copyfile(src, dst, **kwargs)
    if point == "copy":
        os._exit(9)

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
shutil.copyfile = crash_copyfile
t = T.TableStore(None, {base!r}).table({name!r})
{call}
"""


def _crash_child(t, point, call):
    """run ``call`` (Python source over the handle ``t``) in the child;
    assert it died at ``point``"""
    child = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD.format(
            repo=REPO, point=point, base=t.store.base_path, name=t.name,
            call=call)],
        timeout=120)
    assert child.returncode == 9


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
    _crash_child(t, point, "t.mutate([T.Put(r).add('f', 'q', 'c-' + r, ts=5) "
                           f"for r in {crash_rows!r}])")

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


@pytest.mark.parametrize("point", ["segment", "manifest", "head"])
def test_minor_merge_killed_at_commit_point(store, point):
    """A minor merge killed at a commit point (it runs in a plain
    Python child: the merge needs no JVM) leaves the table readable
    as before, the next writer commits, and vacuum removes exactly the
    orphan merged segment — or, once HEAD has swapped, the merged-away
    inputs."""
    t = _mk(store, f"merge-{point}")
    _small_run(t)
    inputs = t.manifest()["segments"]
    pre, raw = _cellset(t.read()), _raw(t)
    _crash_child(t, point, "t.maybe_compact()")

    segdir = os.path.join(t.dir, "segments")
    segs = t.manifest()["segments"]
    orphans = sorted(set(os.listdir(segdir)) - set(segs))
    if point == "head":
        assert len(segs) == 1 and "-compact-" in segs[0]
        assert orphans == sorted(inputs)
    else:
        assert segs == inputs
        assert len(orphans) == 1 and "-compact-" in orphans[0], orphans
    assert _cellset(t.read()) == pre and _raw(t) == raw

    v = t.mutate([Put("next").add("f", "q", "n", ts=7)])
    assert t.manifest()["version"] == v
    want = pre | {("next", "f", "q", 7, "n")}
    assert _cellset(t.read()) == want
    assert t.vacuum() == orphans
    assert _cellset(t.read()) == want


def test_replicate_never_ships_compacted_or_temp_segments(spark, tmp_path):
    """the peer receives each WAL edit once: neither the merged
    ``-compact-`` segment nor a crashed merge's ``.tmp-`` dir ships"""
    src = _mk(TableStore(spark, str(tmp_path / "src")), scope=1)
    dst = _mk(TableStore(spark, str(tmp_path / "dst")), scope=1)
    _small_run(src)
    wal = _raw(src)
    src.maybe_compact()
    (seg,) = src.manifest()["segments"]
    assert "-compact-" in seg
    shutil.copytree(_seg_dir(src, seg),
                    _seg_dir(src, ".tmp-seg-000099-compact-00000000"))
    replicate(spark, src, dst, str(tmp_path / "ckpt"), once=True)
    assert _raw(dst) == wal
    assert _cellset(dst.read()) == _cellset(src.read())


def _unlisted(t):
    """the ``segments/`` entries the manifest does not list"""
    return sorted(set(os.listdir(os.path.join(t.dir, "segments")))
                  - set(t.manifest()["segments"]))


def test_adopt_killed_mid_copy_leaves_only_a_temp_dir(spark, tmp_path):
    """an adopt killed after its first copied file leaves one hidden
    ``.tmp-`` dir: replication ships exactly the committed cells and
    vacuum reaps the temp dir"""
    src = _mk(TableStore(spark, str(tmp_path / "src")), scope=1)
    dst = _mk(TableStore(spark, str(tmp_path / "dst")), scope=1)
    src.mutate([Put("a").add("f", "q", "1", ts=1),
                Put("b").add("f", "q", "2", ts=1)])
    # the directory to adopt: a segment of another table (data file +
    # skip manifest, so the kill lands mid-copy)
    prep = _mk(TableStore(spark, str(tmp_path / "prep")))
    prep.mutate([Put("adopted").add("f", "q", "x", ts=1)])
    prep_dir = _seg_dir(prep, prep.manifest()["segments"][0])
    assert len(os.listdir(prep_dir)) == 2
    raw = _raw(src)
    _crash_child(src, "copy", f"t.adopt_segment({prep_dir!r})")

    (orphan,) = _unlisted(src)
    assert orphan.startswith(".tmp-seg-") and "-adopted-" in orphan
    assert _raw(src) == raw
    replicate(spark, src, dst, str(tmp_path / "ckpt"), once=True)
    assert _raw(dst) == raw
    assert src.vacuum() == [orphan]
    assert _unlisted(src) == []


@pytest.mark.parametrize("writer", ["append_cells", "compact_major"])
def test_failed_spark_write_leaves_no_segment(spark, store, monkeypatch, writer):
    """an append_cells or compact(major=True) whose Spark job fails at
    runtime leaves nothing under ``segments/`` outside the manifest,
    and the table takes the next write"""
    t = _mk(store, writer)
    t.mutate([Put("r1").add("f", "q", "v1", ts=1)])
    segs, want = t.manifest()["segments"], _cellset(t.read())

    def bad_ts(cells, spec=None):
        return cells.withColumn(
            "ts", F.concat(F.col("value"), F.lit("z")).cast("long"))

    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        if writer == "append_cells":
            t.append_cells(bad_ts(t.cells()))
        else:
            # the major compaction's resolved stream fails the same way
            monkeypatch.setattr(table_mod, "resolve", bad_ts)
            t.compact(major=True)
    monkeypatch.undo()
    assert os.listdir(os.path.join(t.dir, "segments")) == segs
    assert t.manifest()["segments"] == segs and _cellset(t.read()) == want
    t.append_cells(t.cells().withColumn("row", F.lit("r2")))
    assert {c[0] for c in _cellset(t.read())} == {"r1", "r2"}
    assert _unlisted(t) == []


def test_clone_to_waits_for_the_target_writer(spark, store, tmp_path):
    """clone_to reaps, copies and commits under the target's writer
    lock: a live writer's ``.tmp-`` staging dir is never reaped"""
    t = _mk(store, "clsrc")
    t.mutate([Put("r1").add("f", "q", "v1", ts=1)])
    t.snapshot("s1")
    other = TableStore(spark, str(tmp_path / "other"))
    target = t.clone_to(other, "backup", "s1")
    t.mutate([Put("r2").add("f", "q", "v2", ts=2)])
    t.snapshot("s2")
    v = target.manifest()["version"]
    staging = _seg_dir(target, ".tmp-seg-000009-wal-0000live")
    locked, release = threading.Event(), threading.Event()

    def writer():
        with target._lock():
            os.makedirs(staging)
            locked.set()
            release.wait(60)
            shutil.rmtree(staging, ignore_errors=True)

    cloned = []
    w = threading.Thread(target=writer)
    c = threading.Thread(target=lambda: cloned.append(
        t.clone_to(other, "backup", "s2", incremental=True)))
    w.start()
    assert locked.wait(60)
    c.start()
    try:
        c.join(1.0)
        assert os.path.isdir(staging)
        assert target.manifest()["version"] == v and not cloned
    finally:
        release.set()
        w.join(60)
        c.join(60)
    assert not w.is_alive() and not c.is_alive()
    assert cloned and target.manifest()["version"] == v + 1
    assert _cellset(target.read()) == _cellset(t.read())
    assert _unlisted(target) == []


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
