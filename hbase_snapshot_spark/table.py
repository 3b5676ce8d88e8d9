"""Table storage — append-only parquet edit log + atomic manifest.

Re-creates the reference's storage semantics with Spark-native parts:

  - WAL + MemStore + HFiles (regionserver/wal/HLog.java:124,
    MemStore.java:54, Store.java) → every mutation batch is an immutable
    parquet *segment*; a JSON *manifest* lists the live segments.  A
    commit = write new manifest version + atomically repoint HEAD —
    the analogue of HBase's WAL group commit + flush, and the source of
    MVCC snapshot reads (ReadWriteConsistencyControl.java:31 — readers
    pin a manifest version, writers never mutate files in place).
  - Catalog (-ROOT-/.META.) → the base directory listing.
  - Compaction (Store.compact:581) → minor = a raw sorted merge that
    keeps tombstones (MinorCompactingStoreScanner.java) — the selected
    small newest run merges on the driver, the settled bulk segment
    stays put; major = the resolve kernel purging masked + expired
    cells.  Either swaps the merged inputs for the compacted segment.
  - Snapshots (SnapshotDescriptor.java:36, HConstants SNAPSHOT_DIR
    ".snapshot") → a snapshot is a frozen manifest copy under
    ``.snapshot/<name>/`` referencing the SAME segment files (zero-copy,
    like the reference's StoreFile reference files + META refcounts at
    HRegion.updateRefCountInMeta:2770-2789).  vacuum() never deletes a
    segment referenced by any snapshot or the live manifest — the
    SnapshotLogCleaner / refcount-protected-compaction rule
    (HRegion.java:765, master/SnapshotLogCleaner.java:42).

Concurrency model: single-writer-per-table batch engine (an advisory
``flock`` on ``WRITER.lock``, released by the kernel when its holder
dies); this is the documented stand-in for HBase's row locks + MVCC
write path, and what makes checkAndMutate / increment atomic
(HRegion.checkAndMutate:1544, incrementColumnValue:3106).

Scale: segments are plain parquet directories.  A mutation batch is
driver-resident (the client write buffer), so ``mutate`` writes its
segment on the driver as ONE pyarrow parquet file — no Spark job; so
does a minor merge, whose input is capped at ``_MINOR_MERGE_BYTES``.
The distributed paths (append_cells, bulk_load, the whole-table
``compact()`` and ``compact(major=True)``) write through Spark: a
1000-executor bulk load writes one segment with thousands of files.
Every writer — these, and adopt_segment's copy or move — publishes
through ``StoredTable._publish_segment``: the segment is built in a
hidden ``segments/.tmp-`` directory and renamed into place before the
manifest commit, so no reader, glob or replica sees a partial one.
Reads are ``spark.read.parquet(seg1, seg2, ...)`` so partition pruning,
predicate pushdown, and row-group skipping all apply.
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from hbase_snapshot_spark.client import Get, Table as ClientTable
from hbase_snapshot_spark.model import (
    LATEST_TIMESTAMP,
    KeyType,
    NoSuchColumnFamilyError as _NoSuchColumnFamilyError,
    TableDescriptor,
    cell_schema,
)
from hbase_snapshot_spark.resolve import ResolveSpec, compose, resolve, ts_floor

SNAPSHOT_DIR = ".snapshot"  # HConstants.java:152
_MANIFEST_NAME = re.compile(r"v(\d+)\.json")
_SEQ_SHIFT = 20  # seq = commit_seq << 20 | intra-batch ordinal
#: on-disk bytes a driver-side minor merge may read: a larger run skips
#: its oldest segments (select_minor_compaction), and compact(segments=)
#: over it raises — a large settled file is rewritten only by the Spark
#: compactions (HBase's ``hbase.hstore.compaction.max.size`` analogue)
_MINOR_MERGE_BYTES = 64 << 20


class TableExistsError(Exception):
    pass


class TableNotFoundError(Exception):
    pass


class TableNotEnabledError(Exception):
    """HBase NotServingRegionException analogue: a disabled table
    rejects client reads and mutations until re-enabled."""


# canonical home is model.py (the client read path raises it too);
# re-exported here because mutation call sites naturally import it
# alongside Put/Delete
NoSuchColumnFamilyError = _NoSuchColumnFamilyError


class Mutation:
    def __init__(self, row):
        self.row = row
        self.cells: list[tuple] = []  # (family, qualifier, ts, type, value)


class Put(Mutation):
    """client/Put.java:132,145 — add(family, qualifier, [ts], value)."""

    def add(self, family, qualifier, value, ts: int | None = None) -> "Put":
        self.cells.append((family, qualifier, ts, KeyType.PUT, value))
        return self


class Delete(Mutation):
    """client/Delete.java:68.  An empty Delete means "whole row": it is
    expanded to one DeleteFamily per family at apply time
    (HRegion.prepareDelete:1164-1179).  ``ts`` is the row-level
    timestamp bound (Delete(row, ts) ctor, Delete.java:89): the
    expanded DeleteFamily markers mask only cells at-or-before it —
    Delete(row) on a row whose only cell sits in the future leaves that
    cell visible (TestHRegion.testDeleteRowWithFutureTs)."""

    def __init__(self, row, ts: int | None = None):
        super().__init__(row)
        self.ts = ts

    def delete_family(self, family, ts: int | None = None) -> "Delete":
        """Delete.deleteFamily:147 — an unset ts defaults to the
        CONSTRUCTOR's row-level ts (this.ts in the reference)."""
        ts = ts if ts is not None else self.ts
        self.cells.append((family, None, ts, KeyType.DELETE_FAMILY, None))
        return self

    def delete_columns(self, family, qualifier, ts: int | None = None) -> "Delete":
        """all versions at-or-before ts (Delete.deleteColumns:180);
        unset ts defaults to the constructor's row-level ts"""
        ts = ts if ts is not None else self.ts
        self.cells.append((family, qualifier, ts, KeyType.DELETE_COLUMN, None))
        return self

    def delete_column(self, family, qualifier, ts: int | None = None) -> "Delete":
        """exactly one version: the given ts, the constructor's
        row-level ts, or the latest when both are None
        (Delete.deleteColumn:213 — the server resolves "latest")."""
        ts = ts if ts is not None else self.ts
        self.cells.append((family, qualifier, ts, KeyType.DELETE, None))
        return self


class TableStore:
    """Catalog of tables under a base path (create/drop/list — the
    HBaseAdmin surface)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        os.makedirs(base_path, exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def create_table(self, descriptor: TableDescriptor, binary: bool = False) -> "StoredTable":
        # HTableDescriptor.isLegalTableName / HColumnDescriptor ctor
        # reject null/empty names (TestFromClientSide.testNull:923-936);
        # names may contain '-' and '.' but not START with them (that
        # namespace is -ROOT-/.META./.snapshot's — HBASE-771,
        # TestAdmin.testTableNames:510)
        if not descriptor.name or not isinstance(descriptor.name, str):
            raise ValueError("table name must be a non-empty string")
        if descriptor.name[0] in ".-" or not re.fullmatch(
            r"[a-zA-Z0-9_.-]+", descriptor.name
        ):
            raise ValueError(f"Illegal table name {descriptor.name!r}")
        if not descriptor.families or any(
            not f.name for f in descriptor.families.values()
        ):
            raise ValueError("table needs at least one non-empty family name")
        d = self._dir(descriptor.name)
        if os.path.exists(d):
            raise TableExistsError(descriptor.name)
        os.makedirs(os.path.join(d, "segments"))
        os.makedirs(os.path.join(d, "manifests"))
        manifest = {
            "version": 0,
            "descriptor": descriptor.to_dict(),
            "segments": [],
            "commit_seq": 0,
            "binary": binary,
        }
        write_json_atomic(os.path.join(d, "manifests", "v0.json"), manifest)
        write_json_atomic(os.path.join(d, "HEAD.json"), {"version": 0})
        return StoredTable(self, descriptor.name)

    def drop_table(self, name: str) -> None:
        d = self._dir(name)
        if not os.path.isdir(d):
            raise TableNotFoundError(name)
        shutil.rmtree(d)

    def register_sql_views(self, prefix: str = "") -> list[str]:
        """Register every table's resolved view (and its raw cell stream
        as ``<name>_cells``) as Spark SQL temp views, so the whole store
        is queryable with plain ``spark.sql`` — the DataFrame/SQL
        duality at catalog granularity.  Returns the view names."""
        names = []
        for name in self.list_tables():
            t = self.table(name)
            t.create_view(f"{prefix}{name}")
            t.cells().createOrReplaceTempView(f"{prefix}{name}_cells")
            names += [f"{prefix}{name}", f"{prefix}{name}_cells"]
        return names

    def list_tables(self) -> list[str]:
        return sorted(
            n for n in os.listdir(self.base_path)
            if os.path.isfile(os.path.join(self.base_path, n, "HEAD.json"))
        )

    def table(self, name: str) -> "StoredTable":
        if not os.path.isfile(os.path.join(self._dir(name), "HEAD.json")):
            raise TableNotFoundError(name)
        return StoredTable(self, name)

    # ------------------------------------------- store-level snapshots
    # The fork keeps snapshots under {rootdir}/.snapshot/{name}
    # (SnapshotDescriptor.java:36, HConstants.SNAPSHOT_DIR) — CLUSTER
    # scope, so a snapshot survives its table's deletion and
    # admin.restoreSnapshot recreates the dropped table
    # (TestAdmin.testRestoreSnapshot:619).  The table-level snapshots
    # (StoredTable.snapshot) stay the zero-copy in-place form; this
    # layer hard-links the immutable segment files into the store
    # registry (copy fallback across filesystems), so it costs inode
    # metadata, not data bytes — the same economics as the reference's
    # reference-file archive.

    def _snap_base(self) -> str:
        return os.path.join(self.base_path, SNAPSHOT_DIR)

    @staticmethod
    def _link_tree(src: str, dst: str) -> None:
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(out, exist_ok=True)
            for f in files:
                s, d = os.path.join(root, f), os.path.join(out, f)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def snapshot(self, snapshot_name: str, table_name: str) -> None:
        """HBaseAdmin.snapshot:899 at store scope: freeze the table's
        current manifest + hard-link its segments under
        {base}/.snapshot/{snapshot_name}."""
        _check_snapshot_name(snapshot_name)
        sd = os.path.join(self._snap_base(), snapshot_name)
        if os.path.exists(sd):
            raise TableExistsError(f"snapshot {snapshot_name}")
        t = self.table(table_name)
        # build in a temp dir, publish with one atomic rename: a crash
        # mid-link leaves only an ignorable tmp dir (never a nameless
        # half-snapshot that blocks the name), and two concurrent
        # same-name snapshots race on the rename, not on makedirs.
        # Under the table's writer lock so a concurrent compact+vacuum
        # cannot delete HEAD's segments between the manifest read and
        # the linking walk.
        tmp = os.path.join(
            self._snap_base(), f".tmp-{snapshot_name}-{uuid.uuid4().hex[:8]}"
        )
        with t._lock():
            m = t.manifest()
            os.makedirs(os.path.join(tmp, "segments"))
            for seg in m["segments"]:
                self._link_tree(
                    os.path.join(t.dir, "segments", seg),
                    os.path.join(tmp, "segments", seg),
                )
        info = dict(m)
        info["snapshot_name"] = snapshot_name
        info["snapshot_table"] = table_name
        info["creation_time"] = int(time.time() * 1000)
        write_json_atomic(os.path.join(tmp, "snapshotinfo.json"), info)
        try:
            os.rename(tmp, sd)
        except OSError as e:
            # only a lost name race is a collision; permissions /
            # read-only FS / cross-device must surface as themselves
            if e.errno in (errno.EEXIST, errno.ENOTEMPTY) or os.path.exists(sd):
                raise TableExistsError(f"snapshot {snapshot_name}") from None
            raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def list_snapshots(self) -> list[str]:
        return _published_snapshots(self._snap_base())

    def snapshot_descriptor(self, snapshot_name: str) -> dict:
        """SnapshotDescriptor surface: name, table, creationTime +
        the frozen manifest."""
        return _read_json(
            os.path.join(self._snap_base(), snapshot_name, "snapshotinfo.json")
        )

    def restore_snapshot(self, snapshot_name: str) -> "StoredTable":
        """HBaseAdmin.restoreSnapshot at store scope: recreate the
        (deleted) table from the frozen manifest — segments hard-linked
        back, so restore is metadata-speed.  The table must not exist
        (delete it first, like the reference's disable+delete flow)."""
        info = self.snapshot_descriptor(snapshot_name)
        name = info["snapshot_table"]
        if os.path.isdir(self._dir(name)):
            raise TableExistsError(name)
        sd = os.path.join(self._snap_base(), snapshot_name)
        d = self._dir(name)
        os.makedirs(os.path.join(d, "manifests"))
        os.makedirs(os.path.join(d, "segments"))
        for seg in info["segments"]:
            self._link_tree(
                os.path.join(sd, "segments", seg),
                os.path.join(d, "segments", seg),
            )
        manifest = {
            "version": 1,
            "descriptor": info["descriptor"],
            "segments": list(info["segments"]),
            "commit_seq": info["commit_seq"],
            "binary": info["binary"],
        }
        write_json_atomic(os.path.join(d, "manifests", "v1.json"), manifest)
        write_json_atomic(os.path.join(d, "HEAD.json"), {"version": 1})
        return StoredTable(self, name)

    def delete_snapshot(self, snapshot_name: str) -> None:
        sd = os.path.join(self._snap_base(), snapshot_name)
        if not os.path.isdir(sd):
            raise TableNotFoundError(f"snapshot {snapshot_name}")
        shutil.rmtree(sd)


def write_json_atomic(path: str, obj) -> None:
    """Publish ``obj`` as JSON at ``path`` with one atomic rename — the
    manifest/HEAD swap, and every other JSON manifest in the package.
    The temp name is hidden (a Spark directory read skips it) and
    unique per call, so concurrent writers of one name never share a
    temp file; a crash leaves only an ignorable hidden file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def _segment_skip_manifest(seg_dir: str) -> "dict | None":
    """the segment's file-skipping manifest, or None when the segment
    never published one (WAL appends) or published one that is NOT a
    complete inventory of the directory's data files (r13 review: a
    partial manifest — e.g. written before extra files landed, or by a
    buggy external writer — must render the segment UNPRUNABLE, not
    silently drop the uncovered files' rows).  Cached under a lock
    (the wire front-ends scan from server threads): segments are
    IMMUTABLE once committed, so both the manifest and the
    completeness verdict never go stale; an ABSENT manifest is not
    cached."""
    from hbase_snapshot_spark.operators.layout import (
        SKIP_MANIFEST_NAME,
        _data_files,
    )

    with _SKIP_MANIFEST_LOCK:
        if seg_dir in _SKIP_MANIFEST_CACHE:
            return _SKIP_MANIFEST_CACHE[seg_dir]
    p = os.path.join(seg_dir, SKIP_MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    m = _read_json(p)
    covered = set(m.get("files", {}))
    on_disk = {os.path.basename(f) for f in _data_files(seg_dir)}
    if not covered or not on_disk <= covered:
        m = None                      # partial inventory: unprunable
    with _SKIP_MANIFEST_LOCK:
        if len(_SKIP_MANIFEST_CACHE) >= _SKIP_MANIFEST_CACHE_CAP:
            _SKIP_MANIFEST_CACHE.pop(next(iter(_SKIP_MANIFEST_CACHE)))
        _SKIP_MANIFEST_CACHE[seg_dir] = m
    return m


#: FIFO-capped cache of per-segment skipping manifests: a scan-heavy
#: server touches the same few segment dirs thousands of times; the JSON
#: is driver-sized but re-parsing (and completeness-checking) it per
#: scan call is pure waste.  A cached None here means "present but
#: partial — permanently unprunable" (dir + manifest are immutable).
_SKIP_MANIFEST_CACHE: dict[str, "dict | None"] = {}
_SKIP_MANIFEST_CACHE_CAP = 256


def _write_arrow(cells: "pa.Table", seg_dir: str) -> None:
    """a new segment directory holding ``cells`` (already in the cell
    schema) as ONE pyarrow parquet file — the driver-side writer of
    ``mutate`` and the minor merge"""
    os.makedirs(seg_dir)
    # the parquet schema alone round-trips the cell schema: skip the
    # redundant serialized Arrow schema (~600 B of footer per file)
    pq.write_table(cells, os.path.join(
        seg_dir, f"part-00000-{uuid.uuid4()}.snappy.parquet"), store_schema=False)


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _check_snapshot_name(name: str) -> None:
    """a snapshot name is one plain directory entry under .snapshot:
    never a path, and never dot-led (``..`` is the table's own dir,
    ``.tmp-`` is an unpublished snapshot)"""
    if (not isinstance(name, str) or not name or name.startswith(".")
            or os.path.basename(name) != name):
        raise ValueError(f"Illegal snapshot name {name!r}")


def _published_snapshots(base: str) -> list[str]:
    """the snapshots under ``base`` a reader may see: renamed into
    place (no ``.tmp-`` dir) and holding their snapshotinfo.json"""
    if not os.path.isdir(base):
        return []
    return sorted(
        n for n in os.listdir(base)
        if not n.startswith(".tmp-")
        and os.path.isfile(os.path.join(base, n, "snapshotinfo.json"))
    )


_SKIP_MANIFEST_LOCK = threading.Lock()


class _WriterLock:
    """One table directory's writer lock in this process.  A per-
    directory RLock serializes THREADS (the thrift/avro/REST servers
    run threaded transports and share a TableStore) and gives per-
    thread re-entrancy; the outermost holder also takes an exclusive
    ``flock`` on ``WRITER.lock`` to serialize PROCESSES.  The flock
    lives on the open fd, so the kernel drops it when the holder dies —
    a killed writer never wedges the table.  ``depth`` and ``fd`` are
    touched only by the thread holding the RLock."""

    def __init__(self, path: str):
        self.path = path
        self.rlock = threading.RLock()
        self.depth = 0
        self.fd = -1

    def acquire(self, deadline: float) -> bool:
        # the thread-level wait shares the flock wait's deadline — a
        # hung same-process writer surfaces as TimeoutError, not an
        # infinite block
        if not self.rlock.acquire(timeout=max(0.0, deadline - time.time())):
            return False
        if self.depth == 0:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
            except OSError:
                self.rlock.release()
                raise
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.time() > deadline:
                        os.close(fd)
                        self.rlock.release()
                        return False
                    time.sleep(0.05)
            self.fd = fd
        self.depth += 1
        return True

    def release(self) -> None:
        self.depth -= 1
        if self.depth == 0:
            # the lock file stays: unlinking it would let a waiter that
            # already opened it lock an inode nobody else will see
            os.close(self.fd)             # closing the fd drops the flock
            self.fd = -1
        self.rlock.release()


_WRITER_LOCKS: dict[str, _WriterLock] = {}
_WRITER_LOCKS_GUARD = threading.Lock()


def _writer_lock(table_dir: str) -> _WriterLock:
    with _WRITER_LOCKS_GUARD:
        lk = _WRITER_LOCKS.get(table_dir)
        if lk is None:
            lk = _WRITER_LOCKS[table_dir] = _WriterLock(
                os.path.join(table_dir, "WRITER.lock"))
        return lk


def _locked(fn):
    """run a write-path method under the table's single-writer lock"""
    def wrapper(self, *args, **kwargs):
        with self._lock():
            return fn(self, *args, **kwargs)

    wrapper.__name__ = fn.__name__
    wrapper.__doc__ = fn.__doc__
    return wrapper


class StoredTable:
    def __init__(self, store: TableStore, name: str):
        self.store = store
        self.spark = store.spark
        self.name = name
        self.dir = store._dir(name)

    # ---------------------------------------------------------- manifests

    def _head_version(self) -> int:
        return _read_json(os.path.join(self.dir, "HEAD.json"))["version"]

    def manifest(self, version: int | None = None) -> dict:
        v = self._head_version() if version is None else version
        return _read_json(os.path.join(self.dir, "manifests", f"v{v}.json"))

    @property
    def descriptor(self) -> TableDescriptor:
        return TableDescriptor.from_dict(self.manifest()["descriptor"])

    @contextlib.contextmanager
    def _lock(self, timeout_s: float = 30.0):
        """advisory single-writer lock (:class:`_WriterLock`) — the
        stand-in for HBase's row locks + MVCC write path; serializes
        manifest commits so checkAndMutate/increment read-modify-writes
        are atomic (HRegion.checkAndMutate:1544).  Re-entrant per
        thread; every StoredTable handle of one directory shares it.
        Raises TimeoutError when not acquired within ``timeout_s``."""
        lk = _writer_lock(self.dir)
        if not lk.acquire(time.time() + timeout_s):
            raise TimeoutError(f"writer lock on {self.name} held too long")
        try:
            yield
        finally:
            lk.release()

    def _commit(self, m: dict, **changes) -> int:
        """write manifest version N+1 — ``m`` (version N) with
        ``changes`` applied — and atomically repoint HEAD.  Guards
        against lost updates: HEAD must still be at version N
        (optimistic check under the lock)."""
        v = m["version"] + 1
        head = self._head_version()
        if head != m["version"]:
            raise RuntimeError(
                f"concurrent commit detected on {self.name}: "
                f"HEAD=v{head}, committing v{v}"
            )
        manifest = {**m, **changes, "version": v}
        write_json_atomic(os.path.join(self.dir, "manifests", f"v{v}.json"), manifest)
        write_json_atomic(os.path.join(self.dir, "HEAD.json"), {"version": v})
        # the swap supersedes any filter-stream caches taken out against
        # the previous version — free their blocks instead of letting
        # them rot in the storage pool until LRU eviction
        from hbase_snapshot_spark.plans.scan_exec import release_caches

        release_caches(self.dir)
        return v

    # ---------------------------------------------------------- reads

    def cells(self, version: int | None = None) -> DataFrame:
        """the raw cell stream at a manifest version (MVCC read point)."""
        return self._files(self.manifest(version), None, None)[0]

    def cells_for_ranges(self, ranges: "list | None", version: int | None = None,
                         ts_lo: "int | None" = None) -> DataFrame:
        """the raw cell stream restricted DRIVER-SIDE to the parquet
        files whose per-file ``row`` min/max can intersect any of the
        closed ``ranges`` (list of (lo, hi); either side None =
        unbounded) and whose ts max reaches ``ts_lo`` — see
        :meth:`_files`.  Every engine read selects its cells through
        :meth:`_source`, which passes :func:`resolve.ts_floor` as
        ``ts_lo``."""
        if not ranges and ts_lo is None:
            raise ValueError(
                "need at least one (lo, hi) row range or a ts_lo bound")
        return self._files(self.manifest(version), ranges, ts_lo)[0]

    def _files(self, m: dict, ranges: "list | None",
               ts_lo: "int | None") -> "tuple[DataFrame, bool]":
        """ONE walk over manifest ``m``'s segment skipping manifests
        (operators/layout.py — bulk_load / compact publish row+ts+type
        stats per file, WAL appends ts+type) returning the cell stream
        read from only the files that can hold a cell in one of the
        closed row ``ranges`` at ts >= ``ts_lo``, and whether every
        kept file is proven delete-free.

        Why this path exists: Spark prunes ROW GROUPS per file only
        AFTER scheduling a task and opening the footer — at 100 TB a
        0.1%-selectivity scan would launch millions of tasks just to
        discard footers.  Here the manifest (a driver-sized JSON per
        segment, cached — segments are immutable) shrinks the FILE LIST
        before Spark ever plans, so a point get against a bulk-loaded
        table schedules ~1 file, not ~all of them.

        ``ts_lo`` drops files whose recorded ts MAX sits below it — the
        TimeRangeTracker-parity time prune (TimeRangeTracker.java:147 /
        StoreFile.shouldSeek:991).  Only a FLOOR is ever sound
        (ts_floor's docstring: deletes newer than a time range still
        mask), and it is what carves WAL-append segments —
        row-unprunable, but time-clustered.

        The delete-free proof is each kept file's footer ``type`` min ==
        max == PUT — the per-HFile "no deletes" metadata of the
        reference.  Unknown (a segment without a manifest, or one
        without type stats) reads False: mask() just keeps its
        tombstone windows.

        Purely an optimization, never a semantic change: a segment
        without a manifest contributes ALL its files, a file whose
        stats cannot rule the ranges out is kept, and the caller still
        applies its own row/time predicates to the result."""
        from hbase_snapshot_spark.operators.layout import prune_files_ranges

        def put_only(stats):
            st = stats.get("type")
            return bool(st) and st[0] == st[1] == KeyType.PUT

        ranges = [r for r in ranges or [] if r != (None, None)]
        seg_dirs = [os.path.join(self.dir, "segments", s) for s in m["segments"]]
        paths: list[str] = []
        pruned_any, all_put = False, True
        for seg_dir in seg_dirs:
            skip = _segment_skip_manifest(seg_dir)
            if skip is None:
                paths.append(seg_dir)         # unprunable: read whole dir
                all_put = False
                continue
            cols = skip.get("columns", [])
            keep = set(skip["files"])
            if ranges and "row" in cols:
                keep &= set(prune_files_ranges(skip, "row", ranges))
            if ts_lo is not None and "ts" in cols:
                keep &= set(prune_files_ranges(skip, "ts", [(ts_lo, None)]))
            pruned_any = pruned_any or len(keep) < len(skip["files"])
            all_put = all_put and "type" in cols and all(
                put_only(skip["files"][f]) for f in keep)
            paths.extend(os.path.join(seg_dir, f) for f in sorted(keep))
        if not pruned_any:
            # the unpruned read: whole segment directories
            # (directory-listing semantics)
            paths = seg_dirs
        schema = cell_schema(binary=m["binary"])
        if not paths:
            return self.spark.createDataFrame([], schema=schema), all_put
        # explicit cell schema: no schema-inference job per read, and an
        # adopted directory's extra columns never leak into the logical
        # cell stream
        return self.spark.read.schema(schema).parquet(*paths), all_put

    def _source(self, m: dict, spec: ResolveSpec,
                ranges: list = ()) -> "tuple[DataFrame, ResolveSpec]":
        """The pruned-source selection every engine read takes its cells
        from: manifest ``m``'s files that can hold the closed row
        ``ranges`` at ts >= :func:`resolve.ts_floor` of ``spec`` (the
        sound time-range/TTL floor), and a copy of ``spec`` marked
        ``no_tombstones`` when those files are proven delete-free —
        mask() then skips its three tombstone windows.  Callers still
        apply their own row predicates; results are identical."""
        cells, all_put = self._files(m, ranges, ts_floor(spec))
        return cells, replace(spec, no_tombstones=all_put)

    def client(self, version: int | None = None, now: int | None = None) -> ClientTable:
        self._check_enabled()
        # pin the MVCC read point NOW: the DESCRIPTOR (family caps/TTLs
        # — r13 review: reading it from HEAD paired version-v data with
        # version-v+1 caps when an alter/restore raced the two reads)
        # and the pruned source must resolve the same manifest version
        m = self.manifest(version)
        return ClientTable(None, TableDescriptor.from_dict(m["descriptor"]),
                           now=now, cache_owner=self.dir,
                           source=lambda spec, ranges: self._source(m, spec, ranges))

    def create_view(self, view_name: str, spec: ResolveSpec | None = None,
                    version: int | None = None) -> None:
        """register the resolved view as a Spark SQL temp view so the
        whole engine is queryable via ``spark.sql`` (the DataFrame/SQL
        duality — scans, joins, and aggregations over the resolved cell
        stream in plain SQL)."""
        self.read(spec=spec, version=version).createOrReplaceTempView(view_name)

    def read(self, spec: ResolveSpec | None = None, version: int | None = None) -> DataFrame:
        """Resolved view under the table descriptor: per-family
        maxVersions AND TTLs apply (TTL `now` = wall clock unless the
        caller's spec injects one — same contract as scans).  The
        caller's spec is never mutated; caller-set family caps compose
        with the descriptor's (min wins, Store.versionsToReturn)."""
        cells, spec = self._source(self.manifest(version),
                                   compose(self.descriptor, spec))
        return resolve(cells, spec=spec)

    def scan_ranges(self, ranges: list, spec: ResolveSpec | None = None,
                    version: int | None = None) -> DataFrame:
        """First-class multi-range scan — N Scans' [start, stop) bands
        resolved in ONE job (the engine-side home of the r14 bench
        discovery, VERDICT r14 Next #1).  ``ranges`` is a list of
        HALF-OPEN (lo, hi) row bands, both sides required.

        Plan: (1) the file-skipping manifest prunes the FILE LIST
        driver-side (:meth:`_source`; the closed treatment of the
        half-open his keeps a superset), (2) the surviving cells are
        row-restricted by the block-bucket broadcast LEFT SEMI join
        (:func:`~hbase_snapshot_spark.plans.multirange.restrict_row_ranges`
        — O(1) band probes per cell instead of an O(N)-term OR filter,
        binary-safe keys), (3) resolve under the descriptor-composed
        spec, exactly like :meth:`read`.  A whole-row restriction
        commutes with resolve, so the resolve exchange carries only the
        touched bands — the shape that holds at 100 TB."""
        from hbase_snapshot_spark.plans.multirange import restrict_row_ranges

        cells, spec = self._source(self.manifest(version),
                                   compose(self.descriptor, spec), list(ranges))
        return resolve(restrict_row_ranges(cells, list(ranges)), spec=spec)

    # ---------------------------------------------------------- writes

    def _check_writable(self, m: dict) -> None:
        """HTableDescriptor READONLY attr enforcement"""
        if m["descriptor"].get("readonly"):
            raise PermissionError(f"table {self.name} is READONLY")
        self._check_enabled()

    # ------------------------------------------------- enable / disable

    def _disabled_flag(self) -> str:
        return os.path.join(self.dir, "DISABLED")

    def is_enabled(self) -> bool:
        """HBaseAdmin.isTableEnabled — persisted as a flag file (the
        analogue of the table state the reference keeps in meta/zk;
        admin/shell/thrift/avro surfaces all observe the same state)."""
        return not os.path.exists(self._disabled_flag())

    def _check_enabled(self) -> None:
        if not self.is_enabled():
            raise TableNotEnabledError(f"table {self.name} is disabled")

    def enable(self) -> None:
        """HBaseAdmin.enableTable / shell ``enable``"""
        try:
            os.remove(self._disabled_flag())
        except FileNotFoundError:
            pass

    def disable(self) -> None:
        """HBaseAdmin.disableTable / shell ``disable`` — internal
        maintenance (compact/snapshot/alter/drop) still works, exactly
        the ops the reference requires a disabled table for."""
        with open(self._disabled_flag(), "w") as f:
            f.write(str(os.getpid()))

    @_locked
    def append_cells(self, df: DataFrame) -> int:
        """Bulk append a cell DataFrame as one segment + manifest commit —
        the TableOutputFormat sink (mapreduce/TableOutputFormat.java)."""
        m = self.manifest()
        self._check_writable(m)
        commit_seq = m["commit_seq"] + 1
        if "seq" not in df.columns:
            df = df.withColumn("seq", F.lit(commit_seq << _SEQ_SHIFT).cast("long"))
        # segments hold exactly the table's cell schema: reads pass it
        # explicitly instead of inferring it from the files (_files)
        df = df.select(*[F.col(f.name).cast(f.dataType)
                         for f in cell_schema(binary=m["binary"]).fields])
        return self._publish_segment(m, "wal", df.write.parquet,
                                     ["ts", "type"], list(m["segments"]))

    def _now_ms(self) -> int:
        return int(time.time() * 1000)

    @_locked
    def adopt_segment(self, src_path: str, move: bool = False) -> int:
        """LoadIncrementalHFiles / completebulkload
        (mapreduce/LoadIncrementalHFiles.java:80-87): atomically adopt a
        prepared parquet directory (e.g. bulk_load output) into the live
        table — metadata-only (copy/move + manifest commit; no
        region-boundary re-splitting needed, there are no fixed regions).
        A bulk_load output's skip manifest travels with it; any other
        directory gets a row/ts/type one before it goes live."""
        m = self.manifest()
        self._check_writable(m)

        def write(tmp):
            if move:
                shutil.move(src_path, tmp)
            else:
                shutil.copytree(src_path, tmp)

        return self._publish_segment(m, "adopted", write,
                                     ["row", "ts", "type"], list(m["segments"]))

    @_locked
    def mutate(self, mutations: list[Mutation], now: int | None = None) -> int:
        """Apply a batch of Puts/Deletes (HTable write buffer +
        flushCommits, HTable.java:534,662).  One segment per batch: ONE
        parquet file in exactly the table's cell schema, written on the
        driver with pyarrow — the WAL append launches no Spark job (only
        a no-ts deleteColumn's latest-version lookup reads through
        Spark) — and published by :meth:`_publish_segment`.

        Boundary: this is the INTERACTIVE write path — the mutation list
        is driver-resident, like the reference's client-side write
        buffer.  Bulk ingest (≥ millions of cells) belongs on the
        distributed paths: ``append_cells`` (cell DataFrame → segment),
        ``sources.tools.bulk_load`` + ``adopt_segment`` (sorted bulk
        pipeline), or ``sources.tools.multi_table_write``."""
        now = now if now is not None else self._now_ms()
        m = self.manifest()             # one manifest read for the batch
        self._check_writable(m)
        desc = TableDescriptor.from_dict(m["descriptor"])
        empty_qual = b"" if m["binary"] else ""
        declared = set(desc.families)
        h = self._hashable
        # flatten: whole-row deletes expand to DeleteFamily per family
        # (HRegion.prepareDelete:1164-1179); a null qualifier on a
        # column-level op is the EMPTY qualifier (KeyValue coerces null
        # to a zero-length byte[] — testNull:948-995 pins that null and
        # byte[0] address the same column)
        flat = []
        for mut in mutations:
            if mut.row is None:
                # Put/Delete ctors reject a null row (Put.java:66
                # "Row key is invalid"; testNull:941-946)
                raise ValueError("mutation row must not be null")
            cells = mut.cells
            if isinstance(mut, Delete) and not cells:
                cells = [
                    (fam, None, getattr(mut, "ts", None),
                     KeyType.DELETE_FAMILY, None)
                    for fam in desc.families
                ]
            for family, qualifier, ts, typ, value in cells:
                self._check_family(family, declared)
                if qualifier is None and typ != KeyType.DELETE_FAMILY:
                    qualifier = empty_qual
                if ts == LATEST_TIMESTAMP:
                    # HRegion.updateKVTimestamps:1602 — the LATEST_
                    # TIMESTAMP sentinel is replaced with the server
                    # clock at apply time, never stored
                    ts = None
                flat.append((mut.row, family, qualifier, ts, typ, value))
        # exact-latest deletes (Delete.deleteColumn with no ts) need
        # current visible versions; the Nth such delete of one column in
        # a batch targets the Nth-NEWEST version (HRegion.delete:1231-1264
        # counts occurrences per qualifier and reads that many versions),
        # and when fewer versions exist the tombstone is stamped `now`
        # (HRegion.java:1254-1257).  All lookups run as ONE Spark job
        # instead of the reference's get per cell.
        latest_counts: dict = {}
        for row, family, qualifier, ts, typ, _v in flat:
            if typ == KeyType.DELETE and ts is None:
                key = (h(row), h(family), h(qualifier))
                latest_counts[key] = latest_counts.get(key, 0) + 1
        latest_map = (
            self._latest_ts_map(latest_counts, m) if latest_counts else {}
        )
        # "latest" is resolved at APPLY time in the reference (a server-
        # side get per Delete), so a Put earlier in the same batch is
        # visible to a later latest-delete — track in-batch puts too
        in_batch_put_ts: dict = {}
        occ: dict = {}
        rows = []
        ordinal = 0
        for row, family, qualifier, ts, typ, value in flat:
            key = (h(row), h(family), h(qualifier))
            if typ == KeyType.DELETE and ts is None:
                n = occ.get(key, 0) + 1
                occ[key] = n
                versions = sorted(
                    set(latest_map.get(key, [])) | in_batch_put_ts.get(key, set()),
                    reverse=True,
                )
                # Nth occurrence → Nth-newest version; past the end →
                # tombstone at `now` (matches the reference, which still
                # writes the delete marker)
                ts = versions[n - 1] if n <= len(versions) else now
            if typ == KeyType.PUT:
                in_batch_put_ts.setdefault(key, set()).add(
                    ts if ts is not None else now
                )
            rows.append((
                row, family, qualifier,
                ts if ts is not None else now, typ, ordinal, value,
            ))
            ordinal += 1
        if ordinal >= (1 << _SEQ_SHIFT):
            # seq = commit_seq << 20 | ordinal: a larger batch would
            # overflow into the next commit's seq range and corrupt the
            # newer-commit-wins tie-break — route bulk ingest through
            # append_cells/bulk_load instead
            raise ValueError(
                f"mutation batch too large ({ordinal} cells >= 2^{_SEQ_SHIFT}); "
                "use append_cells/bulk_load for bulk ingest"
            )
        if not rows:
            return m["version"]
        base_seq = (m["commit_seq"] + 1) << _SEQ_SHIFT
        # binary values arrive as bytes/bytearray/memoryview: write bytes
        rows = [(h(r), f, h(q), ts, t, base_seq + o, h(v))
                for (r, f, q, ts, t, o, v) in rows]
        schema = to_arrow_schema(cell_schema(binary=m["binary"]))
        batch = pa.Table.from_pydict(dict(zip(schema.names, zip(*rows))),
                                     schema=schema)
        return self._publish_segment(
            m, "wal", lambda tmp: _write_arrow(batch, tmp), ["ts", "type"],
            list(m["segments"]))

    def _publish_segment(self, m: dict, kind: str, write, stats: list[str],
                         keep: list[str]) -> int:
        """The one way a segment enters ``segments/``: name it
        ``seg-<seq>-<kind>-<uuid>`` at the next commit seq, let
        ``write(tmp)`` create the hidden ``segments/.tmp-<seg>``
        directory (a pyarrow file, a Spark write, a copy or a move),
        add a skip manifest of the ``stats`` columns unless the
        directory already carries one, rename it into place, and commit
        ``keep + [seg]``.  No reader, glob or replica ever sees a
        partial segment: a write that raises removes its temp dir, and
        vacuum reaps a killed writer's.

        Row-sorted segments (compactions, bulk_load outputs) publish
        row/ts/type stats; WAL segments arrive in commit order, so they
        publish ts/type only — time-clustered, their ts bounds still let
        time-range / TTL scans skip them (TimeRangeTracker.java:147,
        StoreFile.Reader.shouldSeek:991), and a type min == max == PUT
        proves a file delete-free (_files)."""
        from hbase_snapshot_spark.operators.layout import (
            SKIP_MANIFEST_NAME,
            write_skipping_manifest,
        )

        commit_seq = m["commit_seq"] + 1
        seg = f"seg-{commit_seq:06d}-{kind}-{uuid.uuid4().hex[:8]}"
        segroot = os.path.join(self.dir, "segments")
        tmp = os.path.join(segroot, f".tmp-{seg}")
        try:
            write(tmp)
            if not os.path.exists(os.path.join(tmp, SKIP_MANIFEST_NAME)):
                write_skipping_manifest(tmp, stats)
            os.rename(tmp, os.path.join(segroot, seg))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return self._commit(m, segments=keep + [seg], commit_seq=commit_seq)

    def _check_family(self, family, families: set | None = None) -> None:
        """HRegion.checkFamily:2391 — reject families the descriptor
        does not declare (reads AND mutations go through this in the
        reference; NoSuchColumnFamilyException).  ``families`` passes a
        pre-resolved declared-family set so batch loops don't re-read
        the manifest per cell."""
        name = (
            family.decode("utf-8", "replace")
            if isinstance(family, (bytes, bytearray, memoryview))
            else family
        )
        if families is None:
            families = set(self.descriptor.families)
        if name not in families:
            raise NoSuchColumnFamilyError(
                f"Column family {name!r} does not exist in region "
                f"{self.name}"
            )

    def put_batch(self, puts: list[Put], now: int | None = None) -> list[str]:
        """HRegion.put(Put[]):1722 — per-operation status codes.  A put
        naming an unknown family gets BAD_FAMILY and is skipped; the
        valid puts commit together in ONE segment (the reference's
        miniBatchOp applies the valid subset in one WAL sync)."""
        # validate against the descriptor and apply under ONE writer-lock
        # scope (the lock is re-entrant, so the inner @_locked mutate
        # nests) — otherwise a concurrent family removal between the
        # check and the commit turns an already-coded SUCCESS into a
        # NoSuchColumnFamilyError that aborts the whole batch
        with self._lock():
            codes = []
            good = []
            declared = set(self.descriptor.families)
            for p in puts:
                try:
                    for family, _q, _ts, _t, _v in p.cells:
                        self._check_family(family, declared)
                except NoSuchColumnFamilyError:
                    codes.append("BAD_FAMILY")
                    continue
                codes.append("SUCCESS")
                good.append(p)
            if good:
                self.mutate(good, now=now)
        return codes

    def _latest_cell(self, row, family, qualifier):
        """the newest visible cell of one column, or None — the Get the
        reference issues inside checkAndMutate / incrementColumnValue"""
        out = self.client().get(Get(row, columns={family: [qualifier]})).collect()
        return out[0] if out else None

    @staticmethod
    def _hashable(v):
        # binary tables collect BinaryType as bytearray (unhashable);
        # normalize both the requested keys and the collected cells so
        # bytes-keyed lookups match
        return bytes(v) if isinstance(v, (bytearray, memoryview)) else v

    def _latest_ts_map(self, counts: dict, m: dict) -> dict:
        """One-job newest-versions lookup at manifest ``m``: ``counts``
        maps a hashable (row, family, qualifier) key to how many newest
        version ts are needed (the per-qualifier occurrence count of
        latest-deletes — HRegion.delete:1240-1250).  Returns key → [ts
        desc].  Version visibility honors the descriptor's caps, like
        the get the reference issues per delete cell.  Key sets come
        from a mutation batch, so they are driver-sized by construction."""
        h = self._hashable
        rows = list({r for (r, _f, _q) in counts})
        spec = compose(TableDescriptor.from_dict(m["descriptor"]),
                       ResolveSpec(max_versions=max(counts.values())))
        cells, spec = self._source(m, spec, [(r, r) for r in rows])
        vis = resolve(cells.filter(F.col("row").isin(rows)), spec=spec)
        # only (family, qualifier) pairs the batch touches reach the
        # driver, and only the 4 key columns — resolve still sees the
        # touched rows' FULL column set (family/column tombstones mask
        # across qualifiers), but a wide row must not inflate the
        # collect with untouched columns or value bytes
        pairs = {(f, q) for (_r, f, q) in counts}
        pred = None
        for f, q in pairs:
            p = (F.col("family") == F.lit(f)) & (F.col("qualifier") == F.lit(q))
            pred = p if pred is None else (pred | p)
        vis = vis.filter(pred).select("row", "family", "qualifier", "ts")
        out: dict = {}
        for c in vis.collect():
            key = (h(c.row), h(c.family), h(c.qualifier))
            if key in counts:
                out.setdefault(key, []).append(c.ts)
        return {k: sorted(v, reverse=True)[: counts[k]] for k, v in out.items()}

    def _check_matches(self, row, family, qualifier, expected) -> bool:
        """HRegion.checkAndMutate:1568-1575 — an ABSENT column matches
        only an empty/None expected value; a present column compares
        value-equal (an empty expected also matches a present empty
        value, via the equality branch)."""
        self._check_family(family)
        cur = self._latest_cell(row, family, qualifier)
        empty = expected is None or len(expected) == 0
        if cur is None:
            return empty
        h = self._hashable
        return h(cur.value) == (
            h(expected) if not empty
            else (b"" if isinstance(h(cur.value), bytes) else "")
        )

    @_locked
    def check_and_put(self, row, family, qualifier, expected, put: Put,
                      now: int | None = None) -> bool:
        """HTable.checkAndPut:597 / HRegion.checkAndMutate:1544 — atomic
        under the single-writer model."""
        if not self._check_matches(row, family, qualifier, expected):
            return False
        self.mutate([put], now=now)
        return True

    @_locked
    def check_and_delete(self, row, family, qualifier, expected, delete: Delete,
                         now: int | None = None) -> bool:
        if not self._check_matches(row, family, qualifier, expected):
            return False
        self.mutate([delete], now=now)
        return True

    @_locked
    def increment_column_value(self, row, family, qualifier, amount: int,
                               now: int | None = None) -> int:
        """HTable.incrementColumnValue:553 / HRegion:3106 — read latest
        8-byte counter (or int-string on string tables), add, write."""
        m = self.manifest()
        cur = self._latest_cell(row, family, qualifier)
        if cur is None:
            base = 0
        elif m["binary"]:
            from hbase_snapshot_spark import bytes_util
            base = bytes_util.to_long(bytes(cur.value))
        else:
            base = int(cur.value)
        newval = base + amount
        if m["binary"]:
            from hbase_snapshot_spark import bytes_util
            enc = bytes_util.to_bytes(newval)
        else:
            enc = str(newval)
        self.mutate([Put(row).add(family, qualifier, enc)], now=now)
        return newval

    # ---------------------------------------------------------- compaction

    def _segment_size(self, seg: str) -> int:
        d = os.path.join(self.dir, "segments", seg)
        total = 0
        for root, _dirs, files in os.walk(d):
            for fn in files:
                total += os.path.getsize(os.path.join(root, fn))
        return total

    def select_minor_compaction(
        self, threshold: int = 3, ratio: float = 2.0, max_files: int = 10
    ) -> list[str]:
        """HBASE-745 incremental selection (Store.java:632-651): walk
        segments oldest→newest; skip the oldest while it is ≥ ratio × the
        next one's size, while more than ``max_files`` would be
        selected, or while the run's on-disk bytes exceed
        ``_MINOR_MERGE_BYTES`` (the later ``compaction.max.size`` rule):
        large settled files stay put.  Unlike the reference, no newest
        tail is forced in (it pulled the bulk segment into every merge of
        a 3-4-segment table), so a strictly >ratio-shrinking run
        compacts nothing; the segment count stays logarithmic in the
        ratio.  Returns the contiguous newest run to merge ([] when below
        threshold or the run degenerates to one segment) — minor
        compaction cost stays proportional to NEW data, not table size."""
        segs = list(self.manifest()["segments"])
        n = len(segs)
        if n < threshold:
            return []
        sizes = [self._segment_size(s) for s in segs]
        run = sum(sizes)
        point = 0
        while point < n - 1:
            if (sizes[point] < sizes[point + 1] * ratio
                    and (n - point) <= max_files
                    and run <= _MINOR_MERGE_BYTES):
                break
            run -= sizes[point]
            point += 1
        chosen = segs[point:]
        return chosen if len(chosen) > 1 else []

    @_locked
    def compact(self, major: bool = False, now: int | None = None,
                segments: list[str] | None = None) -> int:
        """Store.compact:581.  Minor = pure k-way merge, NO masking —
        every cell including tombstones, masked puts and ``seq`` is
        retained (MinorCompactingStoreScanner.java is just a
        KeyValueHeap drain).  Major = resolve with family maxVersions +
        TTL, tombstones purged.  The stream is rewritten sorted by the
        KeyValue total order (row, family, qualifier, ts DESC, seq DESC)
        so downstream scans get clustered, skippable files.

        ``segments`` (minor only) merges that subset ON THE DRIVER — the
        HBASE-745 incremental path (select_minor_compaction): each data
        file is read with pyarrow in the cell schema, the merge is
        written as ONE parquet file with a row/ts/type skip manifest
        (:meth:`_publish_segment`, no Spark job), and the untouched
        older segments stay in the manifest as-is.  A subset over
        ``_MINOR_MERGE_BYTES`` raises ValueError: rewrite the table
        through Spark with ``compact()`` / ``compact(major=True)``."""
        m = self.manifest()
        if segments is not None and not major:
            return self._merge_segments(m, segments)
        if major:
            cells, spec = self._source(m, compose(
                self.descriptor, now=now if now is not None else self._now_ms()))
            compacted = resolve(cells, spec=spec)
        else:
            compacted = self.cells()
        # partition count from cluster parallelism, not from the input
        # plan (an .rdd conversion would materialize plan machinery just
        # to read a number)
        compacted = compacted.repartitionByRange(
            max(1, self.spark.sparkContext.defaultParallelism), "row"
        ).sortWithinPartitions(
            "row", "family", "qualifier", F.col("ts").desc(), F.col("seq").desc()
        )
        # the rewrite is row-sorted: its row stats let reads prune the
        # compacted files driver-side
        return self._publish_segment(m, "compact", compacted.write.parquet,
                                     ["row", "ts", "type"], [])

    def _merge_segments(self, m: dict, segments: list[str]) -> int:
        """the driver-side raw merge behind ``compact(segments=)``"""
        from hbase_snapshot_spark.operators.layout import _data_files

        segments = set(segments)
        merge = [s for s in m["segments"] if s in segments]
        if len(merge) <= 1:
            return m["version"]
        size = sum(self._segment_size(s) for s in merge)
        if size > _MINOR_MERGE_BYTES:
            # like mutate's batch-size guard: the driver merges small runs
            raise ValueError(
                f"minor merge of {size} bytes exceeds {_MINOR_MERGE_BYTES}; "
                "use compact() or compact(major=True) to rewrite through Spark")
        schema = to_arrow_schema(cell_schema(binary=m["binary"]))
        # per file: only the cell columns (an adopted directory's extra
        # columns never carry over), cast to the cell schema (a widened
        # integer column narrows back; an overflow raises)
        parts = [pq.ParquetFile(f).read(columns=schema.names)
                 .select(schema.names).cast(schema)
                 for s in merge
                 for f in sorted(_data_files(os.path.join(self.dir, "segments", s)))]
        cells = pa.concat_tables(parts) if parts else schema.empty_table()
        cells = cells.sort_by(
            [(c, "ascending") for c in ("row", "family", "qualifier")]
            + [("ts", "descending"), ("seq", "descending")],
            null_placement="at_start")
        keep = [s for s in m["segments"] if s not in segments]
        return self._publish_segment(
            m, "compact", lambda tmp: _write_arrow(cells, tmp),
            ["row", "ts", "type"], keep)

    @_locked
    def alter(self, descriptor: TableDescriptor) -> int:
        """HBaseAdmin.modifyTable / shell ``alter`` — commit a new
        descriptor (family knobs like maxVersions/TTL take effect on the
        next read; data is untouched, exactly the reference's behavior
        where schema lives in .tableinfo, not in HFiles)."""
        return self._commit(self.manifest(), descriptor=descriptor.to_dict())

    def maybe_compact(self, threshold: int = 3) -> int | None:
        """Store.java:169 compactionThreshold — compact when the live
        segment count reaches the threshold (the reference's minor-
        compaction trigger; call after batch appends), merging only the
        newest size-similar run under the byte cap (HBASE-745
        incremental selection) on the driver — no Spark job; the
        settled bulk segment is never rewritten here."""
        if len(self.manifest()["segments"]) < threshold:
            return None
        chosen = self.select_minor_compaction(threshold=threshold)
        if not chosen:
            return None
        return self.compact(segments=chosen)

    def _manifest_files(self) -> dict[str, "int | None"]:
        """every entry of ``manifests/`` → its committed version, or
        None for anything that is not a ``vN.json`` (a crashed writer's
        temp file)"""
        mdir = os.path.join(self.dir, "manifests")
        return {f: int(mt[1]) if (mt := _MANIFEST_NAME.fullmatch(f)) else None
                for f in os.listdir(mdir)}

    def history(self) -> list[dict]:
        """time-travel listing (the Delta DESCRIBE HISTORY analogue —
        SURVEY §2.6): every retained manifest version, newest first."""
        out = []
        for v in sorted((v for v in self._manifest_files().values()
                         if v is not None), reverse=True):
            m = self.manifest(v)
            out.append({
                "version": m["version"],
                "commit_seq": m["commit_seq"],
                "n_segments": len(m["segments"]),
            })
        return out

    def diff_versions(
        self, old_version: int, new_version: int | None = None,
        now: int | None = None,
    ) -> DataFrame:
        """Resolved-view diff between two manifest versions (time travel
        made actionable): one row per cell that differs, tagged
        ``change`` ∈ {'added', 'removed'} — a cell whose visible value
        changed appears as one removed + one added row.

        Both sides resolve under ONE pinned TTL ``now`` (default: this
        instant) so a diff of a version against itself is always empty —
        two wall-clock reads microseconds apart could otherwise disagree
        about cells near a TTL cutoff.

        Scale shape: each resolved view computes ONCE — tagged union →
        per-cell-identity count aggregation → multiplicity delta (the
        EXCEPT ALL semantics, honoring duplicate identical cells), one
        shuffle on the cell key.  Works across any two versions
        including pre/post compaction (the RESOLVED view is compared,
        not raw segments)."""
        spec = ResolveSpec(
            max_versions=None,
            now=now if now is not None else self._now_ms(),
        )
        key = ["row", "family", "qualifier", "ts", "value"]
        new_df = self.read(spec=spec, version=new_version).select(*key)
        old_df = self.read(spec=spec, version=old_version).select(*key)
        tagged = new_df.withColumn("_s", F.lit(1)).unionByName(
            old_df.withColumn("_s", F.lit(-1))
        )
        counts = tagged.groupBy(*key).agg(
            F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)).alias("_n_new"),
            F.sum(F.when(F.col("_s") == -1, 1).otherwise(0)).alias("_n_old"),
        )
        delta = F.col("_n_new") - F.col("_n_old")
        changed = counts.filter(delta != 0).withColumn(
            "change", F.when(delta > 0, F.lit("added")).otherwise(F.lit("removed"))
        )
        # honor multiplicity: |delta| copies per differing cell identity
        return (
            changed.withColumn(
                "_m", F.explode(F.sequence(F.lit(1), F.abs(delta)))
            )
            .select(*key, "change")
        )

    # ---------------------------------------------------------- snapshots

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self.dir, SNAPSHOT_DIR, name)

    @_locked
    def snapshot(self, name: str) -> None:
        """HBaseAdmin.snapshot:899 — metadata-only commit: freeze the
        current manifest under .snapshot/<name>/ (zero data copied; the
        segment files are shared, protected from vacuum by reference).

        Published like TableStore.snapshot: built in a hidden
        ``.tmp-`` dir and renamed into place, so a writer killed midway
        leaves no listed half-snapshot that would wedge vacuum and the
        name (vacuum reaps the temp dir)."""
        _check_snapshot_name(name)
        if name in self.list_snapshots():
            raise TableExistsError(f"snapshot {name}")
        m = self.manifest()
        info = dict(m)
        info["snapshot_name"] = name
        info["snapshot_table"] = self.name
        info["created_version"] = m["version"]
        tmp = self._snap_dir(f".tmp-{name}-{uuid.uuid4().hex[:8]}")
        os.makedirs(tmp)
        write_json_atomic(os.path.join(tmp, "snapshotinfo.json"), info)
        # an unlisted dir under the name is a pre-rename-publishing
        # crash's leftover (we hold the writer lock): replace it
        shutil.rmtree(self._snap_dir(name), ignore_errors=True)
        os.rename(tmp, self._snap_dir(name))

    def list_snapshots(self) -> list[str]:
        return _published_snapshots(os.path.join(self.dir, SNAPSHOT_DIR))

    def snapshot_manifest(self, name: str) -> dict:
        try:
            return _read_json(
                os.path.join(self._snap_dir(name), "snapshotinfo.json"))
        except FileNotFoundError:
            raise TableNotFoundError(f"snapshot {name}") from None

    @_locked
    def restore_snapshot(self, name: str) -> int:
        """HBaseAdmin.restoreSnapshot:934 / master/RestoreSnapshot.java:52
        — pure metadata: commit a manifest whose segment list is the
        snapshot's.  (The reference must split & replay WALs; our
        snapshots capture the full edit log, so restore is exact.)"""
        info = self.snapshot_manifest(name)
        return self._commit(self.manifest(), segments=list(info["segments"]),
                            descriptor=info["descriptor"])

    @_locked
    def delete_snapshot(self, name: str) -> None:
        """HBaseAdmin.deleteSnapshot:948 — drop the manifest; files are
        reclaimed by vacuum() once unreferenced."""
        if name not in self.list_snapshots():
            raise TableNotFoundError(f"snapshot {name}")
        shutil.rmtree(self._snap_dir(name))

    def clone_to(self, store: TableStore, new_name: str, snapshot: str,
                 incremental: bool = False) -> "StoredTable":
        """ExportSnapshot + ImportSnapshot (mapreduce/ExportSnapshot.java,
        ImportSnapshot.java) — copy a snapshot's files to another store
        and register them as a new table.

        ``incremental=True`` re-exports a NEWER snapshot over an
        existing export target: segments already present are skipped
        (segment files are immutable, so presence is correctness), only
        the delta is copied, and the target's manifest advances to the
        snapshot's segment list — the periodic-backup shape where
        re-shipping the full history every cycle is the non-starter."""
        info = self.snapshot_manifest(snapshot)
        if incremental:
            try:
                t = store.table(new_name)
            except TableNotFoundError:
                t = None
        else:
            t = None
        if t is None:
            desc = TableDescriptor.from_dict(info["descriptor"])
            desc.name = new_name
            t = store.create_table(desc, binary=info["binary"])
        # presence alone does not prove completeness (copytree is not
        # atomic; a crashed prior export leaves a partial dir) — copy
        # into a temp dir and publish each segment with one atomic
        # rename, so an existing directory IS a complete segment.  All
        # under the target's writer lock: its ``.tmp-`` dirs are then
        # crashed writers' leftovers, never a live writer's staging dir
        segroot = os.path.join(t.dir, "segments")
        with t._lock():
            for stale in os.listdir(segroot):
                if stale.startswith(".tmp-"):
                    shutil.rmtree(os.path.join(segroot, stale),
                                  ignore_errors=True)
            existing = set(os.listdir(segroot))
            for seg in info["segments"]:
                if seg in existing:
                    continue
                tmp = os.path.join(segroot, f".tmp-{uuid.uuid4().hex[:8]}")
                dst = os.path.join(segroot, seg)
                shutil.copytree(os.path.join(self.dir, "segments", seg), tmp)
                try:
                    os.rename(tmp, dst)
                except OSError:
                    # segments are immutable: if another exporter
                    # published the same segment first, losing the
                    # rename race IS success; anything else re-raises
                    shutil.rmtree(tmp, ignore_errors=True)
                    if not os.path.isdir(dst):
                        raise
            t._commit(t.manifest(), segments=list(info["segments"]),
                      commit_seq=info["commit_seq"],
                      descriptor=info["descriptor"])
        return t

    # ---------------------------------------------------------- vacuum

    def referenced_segments(self) -> set[str]:
        refs = set(self.manifest()["segments"])
        for s in self.list_snapshots():
            refs.update(self.snapshot_manifest(s)["segments"])
        return refs

    @_locked
    def vacuum(self) -> list[str]:
        """Delete segments unreferenced by HEAD or any snapshot — the
        refcount rule of HRegion.java:765 / SnapshotLogCleaner.

        Replication hazard (the reference guards this with
        ReplicationLogCleaner, which keeps WALs until every peer has
        consumed them; no peer positions are tracked here): vacuum
        deletes compacted-away WAL segments a replicate() stream may
        not have shipped yet — drain replication before vacuuming, or
        the unshipped edit history is gone."""
        refs = self.referenced_segments()
        segdir = os.path.join(self.dir, "segments")
        removed = []
        for seg in os.listdir(segdir):
            if seg not in refs:
                shutil.rmtree(os.path.join(segdir, seg))
                removed.append(seg)
        # crashed snapshots' unpublished temp dirs (we hold the lock)
        snapdir = os.path.join(self.dir, SNAPSHOT_DIR)
        for d in os.listdir(snapdir) if os.path.isdir(snapdir) else ():
            if d.startswith(".tmp-"):
                shutil.rmtree(os.path.join(snapdir, d), ignore_errors=True)
        # also drop superseded manifest versions and temp leftovers
        head = self._head_version()
        mdir = os.path.join(self.dir, "manifests")
        for f, v in self._manifest_files().items():
            if v != head:
                os.remove(os.path.join(mdir, f))
        return sorted(removed)
