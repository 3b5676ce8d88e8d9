"""Client API — Scan / Get / Table, mirroring the reference's client
package surface (client/Scan.java:79, client/Get.java:63,
client/HTable.java).

A ``Table`` binds a raw cell DataFrame (any source: parquet edit log,
melt of a relational table, stream) plus an optional TableDescriptor
whose per-family maxVersions/TTL caps reads
(Store.versionsToReturn:952)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_snapshot_spark.filters import Filter
from hbase_snapshot_spark.model import NoSuchColumnFamilyError, TableDescriptor
from hbase_snapshot_spark.plans.scan_exec import run_scan
from hbase_snapshot_spark.resolve import ResolveSpec, compose


@dataclass
class Scan:
    """client/Scan.java:79 — [startRow, stopRow), projections, time
    range, maxVersions, filter.  ``setBatch``/``setCaching`` are client
    result-shaping knobs with no Spark analogue (documented divergence:
    results identical, chunking different — SURVEY §3.2)."""

    start_row: Optional[object] = None
    stop_row: Optional[object] = None
    families: Optional[list] = None            # addFamily:178
    columns: Optional[dict] = None             # addColumn:192 {family: [qualifier]}
    time_range: Optional[tuple] = None         # setTimeRange:215 [min,max)
    max_versions: Optional[int] = 1            # setMaxVersions:274; None = all
    filter: Optional[Filter] = None            # setFilter:307
    family_max_versions: dict = field(default_factory=dict)
    family_ttl: dict = field(default_factory=dict)
    now: Optional[int] = None

    def add_family(self, fam: str) -> "Scan":
        """Scan.addFamily:178 — ``familyMap.put(family, null)``: the
        null qualifier set means "whole family" and OVERWRITES any
        narrower set a previous addColumn installed (last call wins —
        TestFromClientSide.getVerifySingleColumn:2499 relies on
        addColumn-then-addFamily widening to the full family)."""
        if self.families is None or fam not in self.families:
            self.families = (self.families or []) + [fam]
        if self.columns and fam in self.columns:
            cols = {k: list(v) for k, v in self.columns.items()}
            del cols[fam]
            self.columns = cols or None
        return self

    def add_column(self, fam: str, qual) -> "Scan":
        """Scan.addColumn:192 — installs/extends the family's qualifier
        set (replacing a wildcard null set from an earlier addFamily)."""
        cols = {k: list(v) for k, v in (self.columns or {}).items()}
        cols.setdefault(fam, []).append(qual)
        self.columns = cols
        # addColumn implies the family is scanned
        if self.families is not None and fam not in self.families:
            self.families.append(fam)
        return self

    def to_spec(self) -> ResolveSpec:
        # the read set is every familyMap key: explicit families PLUS
        # families reached via addColumn (Scan.getFamilies = familyMap
        # keySet; a family is wildcard only when it has no qualifier
        # restriction — resolve.project_columns applies that split)
        fams = self.families
        if fams is None:
            if self.columns is not None:
                fams = list(self.columns.keys())
        elif self.columns:
            fams = fams + [f for f in self.columns if f not in fams]
        cols = self.columns
        if cols is not None:
            # a null qualifier addresses the EMPTY qualifier — KeyValue
            # coerces null to a zero-length byte[], so get.addColumn(f,
            # null) and addColumn(f, EMPTY_BYTE_ARRAY) hit the same
            # column (TestFromClientSide.getTestNull:2215-2227)
            cols = {
                f: ["" if q is None else q for q in quals]
                for f, quals in cols.items()
            }
        return ResolveSpec(
            max_versions=self.max_versions,
            time_range=self.time_range,
            families=fams,
            columns=cols,
            family_max_versions=self.family_max_versions,
            family_ttl=self.family_ttl,
            now=self.now,
        )


@dataclass
class Get:
    """client/Get.java:63 — a point read; executed as a single-row Scan
    exactly like HRegion.get:3061 (Scan(Get) ctor, inclusive-stop trick
    at HRegion.java:2355)."""

    row: object
    families: Optional[list] = None
    columns: Optional[dict] = None
    time_range: Optional[tuple] = None
    max_versions: Optional[int] = 1
    filter: Optional[Filter] = None


class RowCursor:
    """Server-side row-grouping cursor over a scanned cell DataFrame —
    the ClientScanner paging contract shared by the Thrift and Avro
    front-ends (scannerGetList / scannerGetRows): full KeyValue order
    (row, family, qualifier asc; ts, seq desc so multi-version results
    come newest-first), toLocalIterator so at most one partition is
    driver-resident, rows assembled by consecutive grouping with a
    pushback cell at page boundaries.

    ``make_row(row_key, cells)`` builds the front-end's row model from
    the ordered cell list."""

    def __init__(self, df: DataFrame, make_row):
        import threading

        self._it = df.orderBy(
            "row", "family", "qualifier", df["ts"].desc(), df["seq"].desc()
        ).toLocalIterator()
        self._pushback = None
        self._make_row = make_row
        # the thrift/avro front-ends now run behind THREADED transports
        # (thrift_wire.serve_thrift, avro_wire.serve_avro); concurrent
        # pagers of one scanner id must serialize — toLocalIterator and
        # the pushback slot are not thread-safe (same exclusion the
        # reference's scanner leases provide, and the same fix rest.py's
        # _Scanner got in round 3)
        self._lock = threading.Lock()

    def next_rows(self, n: int) -> list:
        with self._lock:
            return self._next_rows(n)

    def _next_rows(self, n: int) -> list:
        out = []
        cur_row, cells = None, []
        while len(out) < n:
            if self._pushback is not None:
                c, self._pushback = self._pushback, None
            else:
                c = next(self._it, None)
            if c is None:
                break
            if cur_row is not None and c.row != cur_row:
                out.append(self._make_row(cur_row, cells))
                cur_row, cells = None, []
                if len(out) == n:
                    self._pushback = c
                    return out
            cur_row = c.row
            cells.append(c)
        if cur_row is not None:
            out.append(self._make_row(cur_row, cells))
        return out


class Table:
    """client/HTable.java — read surface over a cell DataFrame.  Every
    read composes its spec once (:meth:`_spec`) and takes its cells
    from one selection (:meth:`_select`); a Get is a one-row Scan
    (HRegion.get:3061)."""

    def __init__(self, cells: DataFrame | None, descriptor: TableDescriptor | None = None,
                 now: int | None = None, cache_owner: str | None = None,
                 source=None):
        self.cells = cells
        self.descriptor = descriptor
        self.now = now
        # registry key for scan-stage persists (the owning StoredTable's
        # directory) — lets the table free them on manifest swap
        self.cache_owner = cache_owner
        # the owning StoredTable's pruned-source selection bound at the
        # client's MVCC version (``StoredTable._source``): called with
        # the composed spec and a list of CLOSED (lo, hi) row ranges, it
        # returns the cell stream restricted to the parquet files that
        # can contain them, and the spec marked delete-free when the
        # files' footer stats prove it.  None reads ``cells`` whole;
        # with a source bound ``cells`` is unused (None).
        self.source = source

    def _spec(self, scan: Scan) -> ResolveSpec:
        """The scan's spec composed with the descriptor's family caps
        (``resolve.compose`` — the caller's Scan is never mutated).
        HRegion.getScanner:2355 / HRegion.get — every requested family
        must exist in the descriptor (checkFamily); a scan with no
        family restriction reads all declared families."""
        if self.descriptor is not None:
            for fam in list(scan.families or []) + list(scan.columns or {}):
                name = (
                    fam.decode("utf-8", "replace")
                    if isinstance(fam, (bytes, bytearray, memoryview))
                    else fam
                )
                if name not in self.descriptor.families:
                    raise NoSuchColumnFamilyError(
                        f"Column family {name!r} does not exist in region "
                        f"{self.descriptor.name}"
                    )
        return compose(self.descriptor, scan.to_spec(), self.now)

    def _select(self, spec: ResolveSpec, ranges: list) -> tuple[DataFrame, ResolveSpec]:
        """(cells, spec) a read runs over: the bound source's file-pruned
        stream for ``ranges``, else the whole ``cells`` frame.  Callers
        still apply their own row predicates to the result."""
        if self.source is None:
            return self.cells, spec
        return self.source(spec, ranges)

    def scan(self, scan: Scan | None = None) -> DataFrame:
        scan = scan or Scan()
        return run_scan(self.cells, scan, self._spec(scan),
                        cache_owner=self.cache_owner, select=self._select)

    def get(self, get: Get) -> DataFrame:
        scan = Scan(
            start_row=get.row,
            stop_row=None,
            families=get.families,
            columns=get.columns,
            time_range=get.time_range,
            max_versions=get.max_versions,
            filter=get.filter,
        )
        # single-row scan: equality beats the [start, stop) emulation;
        # the selection first shrinks the file list to the (at most one,
        # for a bulk-loaded segment) file covering the key
        cells, spec = self._select(self._spec(scan), [(get.row, get.row)])
        return run_scan(cells.filter(F.col("row") == F.lit(get.row)), scan,
                        spec, cache_owner=self.cache_owner)

    def exists(self, get: Get) -> bool:
        """HTable.exists:651 — existence probe."""
        return self.get(get).limit(1).count() > 0

    def get_row_or_before(self, row, family: str | None = None) -> DataFrame:
        """HTable.getRowOrBefore:472 / Store.getRowKeyAtOrBefore:980 —
        the closest row at-or-before the key (as-of point lookup)."""
        scan = Scan(families=[family] if family else None)
        # row-key restriction commutes with resolution (masking and
        # version counting are per-(row, family, qualifier)), so the
        # at-or-before read only needs files with rows <= the key
        cells, spec = self._select(self._spec(scan), [(None, row)])
        resolved = run_scan(cells, scan, spec, cache_owner=self.cache_owner)
        target = resolved.filter(F.col("row") <= F.lit(row)).agg(
            F.max("row").alias("row")
        )
        return resolved.join(F.broadcast(target), on="row", how="inner")

    def scanner(self, scan: Scan | None = None):
        """ClientScanner analogue (HTable.java:786).  Spark partitions
        replace region-by-region paging; this yields result rows to the
        driver incrementally (one partition in flight) instead of a
        collect(), so there is no ``caching`` rows-per-RPC knob
        (Scan.setCaching:298; documented divergence, SURVEY §3.2)."""
        df = self.scan(scan).orderBy(
            "row", "family", "qualifier", F.desc("ts"), F.desc("seq")
        )
        return df.toLocalIterator()

    def row_count(self, scan: Scan | None = None) -> int:
        """mapreduce/RowCounter.java:40-117 — rows with ≥1 visible cell
        (FirstKeyOnlyFilter pushdown ≡ distinct row keys): the count of
        one distinct ``row`` per visible row.

        Fast paths (r15 — VERDICT r14 Next #4, guide §2.3 "aggregate
        before you shuffle"): a row count never needs the resolved
        CELLS, only row existence, so when no scan feature can hide a
        row in a way the formulas below don't model — no scan filter,
        no time range, no qualifier projection — the count runs
        without the resolve windows:

        * delete-free stream (``spec.no_tombstones``): every cell is a PUT
          and only TTL can expire one — after the TTL predicate the
          count is ``distinct(row)`` over the raw stream.  Version
          counting can never hide a row (the newest version of each
          column always survives).
        * tombstoned stream: visibility folds into three CASCADED
          AGGREGATIONS sharing one hash exchange on ``row`` (each
          level's grouping keys contain ``row``, so clustered
          distribution is satisfied throughout — in-partition hash
          aggregation, no window sorts, and neither ``value`` nor
          ``seq`` is ever shuffled):
            per (r,f,q,ts): any-PUT / any-exact-DELETE /
                            any-DELETE_COLUMN / any-DELETE_FAMILY;
            per (r,f,q):    best = max ts carrying a PUT not exactly
                            deleted; coldel = max DELETE_COLUMN ts —
                            best survives iff best > coldel (a put at
                            ts <= coldel is masked);
            per (r,f):      bestf = max surviving best; famdel = max
                            DELETE_FAMILY ts (their NULL qualifier
                            groups carry no puts, so they add no
                            visibility) — the family contributes iff
                            bestf > famdel.
          A single ts must beat BOTH tombstone levels, and the max
          candidate is optimal for both, so the fold is exact.  Exact
          DELETEs mask every put at their ts regardless of seq, as in
          mask().  TTL expiry is applied FIRST (expired tombstones no
          longer mask — the ScanQueryMatcher order), row bounds and
          family projection before that, and the cells come from the
          same pruned selection as every other read.

        Equality with the resolve path is pinned in tests/test_table.py
        on tombstone-rich fixtures and for every ineligible-guard
        shape."""
        from hbase_snapshot_spark.model import KeyType
        from hbase_snapshot_spark.resolve import _ttl_predicate

        scan = scan or Scan()
        spec = self._spec(scan)
        if scan.filter is not None or spec.time_range is not None \
                or spec.columns is not None:
            return self.scan(scan).select("row").distinct().count()
        cells, spec = self._select(spec, [(scan.start_row, scan.stop_row)])
        if scan.start_row is not None:
            cells = cells.filter(F.col("row") >= F.lit(scan.start_row))
        if scan.stop_row is not None:
            cells = cells.filter(F.col("row") < F.lit(scan.stop_row))
        if spec.families is not None:
            cells = cells.filter(F.col("family").isin(list(spec.families)))
        ttl_pred = _ttl_predicate(spec)
        if ttl_pred is not None:
            cells = cells.filter(ttl_pred)
        if spec.no_tombstones:
            return cells.select("row").distinct().count()
        t, ts = F.col("type"), F.col("ts")
        g1 = cells.repartition("row").groupBy(
            "row", "family", "qualifier", "ts").agg(
            F.max(F.when(t == KeyType.PUT, 1)).alias("_p"),
            F.max(F.when(t == KeyType.DELETE, 1)).alias("_d"),
            F.max(F.when(t == KeyType.DELETE_COLUMN, 1)).alias("_dc"),
            F.max(F.when(t == KeyType.DELETE_FAMILY, 1)).alias("_df"),
        )
        g2 = g1.groupBy("row", "family", "qualifier").agg(
            F.max(F.when((F.col("_p") == 1) & F.col("_d").isNull(), ts)
                  ).alias("_best"),
            F.max(F.when(F.col("_dc") == 1, ts)).alias("_coldel"),
            F.max(F.when(F.col("_df") == 1, ts)).alias("_famdel_q"),
        )
        g3 = g2.groupBy("row", "family").agg(
            F.max(F.when(
                F.col("_coldel").isNull() | (F.col("_best") > F.col("_coldel")),
                F.col("_best"))).alias("_bestf"),
            F.max("_famdel_q").alias("_famdel"),
        )
        vis = g3.filter(
            F.col("_bestf").isNotNull()
            & (F.col("_famdel").isNull() | (F.col("_bestf") > F.col("_famdel"))))
        return vis.select("row").distinct().count()


class ScannerLeases:
    """Leases.java:281 analogue for the wire front-ends: every open
    scanner holds a lease that is renewed on each access; scanners idle
    past ``lease_seconds`` are reclaimed lazily at the next registry
    operation, so an abandoned client cursor cannot pin server memory
    (the reference's LeaseMonitor thread does the same reclaim on a
    timer — a lazy sweep is equivalent here because the registry is the
    only path to a cursor, and it keeps the server thread-free).

    ``lease_seconds=None`` disables expiry (leases never lapse).
    Thread-safe: id allocation, renewal, and reaping all run under one
    lock (the cursors themselves serialize their own paging).

    ``get()`` marks the entry *busy* (reap-exempt) until the matching
    ``renew()``, mirroring HRegionServer.next's remove-lease-while-
    serving / re-add-on-return pattern (Leases.java renewLease): a page
    slower than the lease cannot be reaped out from under its own call
    by a concurrent registry operation.

    ``now_fn`` injects the clock (monotonic seconds) so expiry tests
    can drive a fake clock instead of sleeping."""

    def __init__(
        self,
        lease_seconds: float | None = 60.0,
        now_fn=None,
    ):
        import itertools as _it
        import threading as _th
        import time as _t

        self.lease_seconds = lease_seconds
        self._lock = _th.Lock()
        self._seq = _it.count(1)
        self._now = now_fn if now_fn is not None else _t.monotonic
        # id -> [scanner, last_access, busy_depth]
        self._entries: dict[int, list] = {}

    def _reap_locked(self, now: float) -> None:
        if self.lease_seconds is None:
            return
        dead = [
            sid for sid, (_, t, busy) in self._entries.items()
            if not busy and now - t > self.lease_seconds
        ]
        for sid in dead:
            del self._entries[sid]

    def open(self, scanner) -> int:
        now = self._now()
        with self._lock:
            self._reap_locked(now)
            sid = next(self._seq)
            self._entries[sid] = [scanner, now, 0]
            return sid

    def get(self, sid: int):
        """Look up + renew + mark busy; None when unknown or
        lease-expired (HRegionServer.next → UnknownScannerException
        path). A busy entry is exempt from reaping until ``renew()``."""
        now = self._now()
        with self._lock:
            self._reap_locked(now)
            e = self._entries.get(sid)
            if e is None:
                return None
            e[1] = now
            e[2] += 1
            return e[0]

    def renew(self, sid: int) -> None:
        """Re-arm the lease AFTER a paging call completes and clear the
        busy mark taken by ``get()`` — the reference's HRegionServer.next
        removes the lease while serving and re-adds it on return
        (Leases.java renewLease), so a slow page cannot expire its own
        scanner."""
        now = self._now()
        with self._lock:
            e = self._entries.get(sid)
            if e is not None:
                e[1] = now
                if e[2] > 0:
                    e[2] -= 1

    def close(self, sid: int):
        now = self._now()
        with self._lock:
            self._reap_locked(now)
            e = self._entries.pop(sid, None)
            return None if e is None else e[0]

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)
