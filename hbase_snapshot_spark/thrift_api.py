"""Thrift API surface — the reference's most-used external API
(thrift/ThriftServer.java HBaseHandler, 876 LoC; IDL at
src/main/resources/.../Hbase.thrift) re-expressed as plain Python
methods over the engine's client/table layer.

This is a *method-surface* parity layer: every Hbase.thrift operation
is here with its exact name, argument shape, and result model (TCell /
TRowResult / Mutation / BatchMutation), so a Thrift client's call
sites translate 1:1.  The wire protocol itself is out of scope
(documented transport divergence, DIVERGENCES.md) — semantics are the
engine's Get/Scan/Put/Delete, which the oracle gate pins.

Column names follow the Thrift convention "family:qualifier"; a bare
"family" or "family:" means the whole family (ThriftServer's
ParsedColumn split).  Scanners are id'd server-side cursors
(scannerOpen:584 → scannerGet/scannerGetList/scannerClose), backed by
toLocalIterator so only one partition is driver-resident at a time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from hbase_snapshot_spark.filters import PrefixFilter
from hbase_snapshot_spark.client import Get, Scan
from hbase_snapshot_spark.table import Delete, NoSuchColumnFamilyError, Put


class IOError_(Exception):
    """Hbase.thrift IOError:127 — unknown table / failed operation."""


class IllegalArgument(Exception):
    """Hbase.thrift IllegalArgument:135 — invalid input parameter
    (e.g. an unknown scanner id, Hbase.thrift:653)."""


class AlreadyExists(Exception):
    """Hbase.thrift AlreadyExists:143 — createTable on an existing
    table name."""


# *Ts methods bound the time range below with Long.MIN_VALUE
# (ThriftServer.java:339 setTimeRange(Long.MIN_VALUE, timestamp)), not 0:
# HBase timestamps are arbitrary user longs, so negative values are legal
# and must fall inside the half-open range.
_LONG_MIN = -(1 << 63)


# ---------------------------------------------------------------- models

@dataclass
class TCell:
    """Hbase.thrift struct TCell:58-61 (value + timestamp)."""

    value: object
    timestamp: int


@dataclass
class TRowResult:
    """Hbase.thrift struct TRowResult:98-101 — row + columns map keyed
    by 'family:qualifier'."""

    row: object
    columns: dict


@dataclass
class Mutation:
    """Hbase.thrift struct Mutation:67-71 (isDelete switches put/delete)."""

    column: str
    value: object = None
    isDelete: bool = False  # noqa: N815 — thrift field name


@dataclass
class ColumnDescriptor:
    """Hbase.thrift struct ColumnDescriptor:85-95 (the subset with
    engine meaning; compression/blockcache are physical-format knobs)."""

    name: str
    maxVersions: int = 3  # noqa: N815
    timeToLive: int = (1 << 31) - 1  # noqa: N815
    replicationScope: int = 0  # noqa: N815


@dataclass
class BatchMutation:
    """Hbase.thrift struct BatchMutation:77-80 (row + its mutations)."""

    row: object
    mutations: list = field(default_factory=list)


def _split_column(column: str) -> tuple[str, str | None]:
    """'fam:qual' → (fam, qual); 'fam' / 'fam:' → (fam, None) = whole
    family (ThriftServer ParsedColumn)."""
    fam, sep, qual = column.partition(":")
    if not sep or qual == "":
        return fam, None
    return fam, qual


def _columns_spec(columns) -> tuple[list | None, dict | None]:
    """thrift columns list → (families, columns) Scan projections."""
    if not columns:
        return None, None
    fams, cols = [], {}
    for c in columns:
        fam, qual = _split_column(c)
        if qual is None:
            if fam not in fams:
                fams.append(fam)
        else:
            cols.setdefault(fam, []).append(qual)
    # families carry the whole-family selections; explicit columns imply
    # their family (client.Scan.to_spec handles the merge)
    for fam in cols:
        if fam not in fams:
            fams.append(fam)
    return fams or None, cols or None


class ThriftServer:
    """thrift/ThriftServer.java HBaseHandler — one instance per
    TableStore, methods named and shaped per Hbase.thrift."""

    def __init__(self, store, lease_seconds: float | None = 60.0,
                 now_fn=None):
        from hbase_snapshot_spark.client import ScannerLeases

        self.store = store
        # leased registry (Leases.java:281): thread-safe under threaded
        # transports (thrift_wire.serve_thrift), idle cursors reclaimed
        # after lease_seconds; cursor paging itself serializes inside
        # RowCursor.  now_fn injects the clock for expiry tests.
        self._scanners = ScannerLeases(lease_seconds, now_fn=now_fn)

    # ------------------------------------------------------------ admin

    def getTableNames(self) -> list:  # noqa: N802 — thrift names
        """Hbase.thrift getTableNames:161"""
        return self.store.list_tables()

    def createTable(self, tableName, columnFamilies) -> None:  # noqa: N802,N803
        """Hbase.thrift createTable:208 — columnFamilies is a list of
        ColumnDescriptor (a bare 'name' / 'name:' string also works)."""
        from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor

        desc = TableDescriptor(tableName)
        for cf in columnFamilies:
            if isinstance(cf, str):
                cf = ColumnDescriptor(cf)
            desc.add_family(FamilyDescriptor(
                cf.name.rstrip(":"),
                max_versions=cf.maxVersions,
                ttl=cf.timeToLive,
                replication_scope=cf.replicationScope,
            ))
        from hbase_snapshot_spark.table import TableExistsError

        try:
            self.store.create_table(desc)
        except TableExistsError as ex:
            # ThriftServer.createTable catches TableExistsException →
            # AlreadyExists (Hbase.thrift:227 field 3)
            raise AlreadyExists(str(ex)) from ex
        except Exception as ex:  # noqa: BLE001
            raise IOError_(str(ex)) from ex

    def deleteTable(self, tableName) -> None:  # noqa: N802,N803
        """Hbase.thrift deleteTable:224 — requires the table disabled
        first (master/TableDelete.java:35,49 'Table must be offline' →
        TableNotDisabledException).  The engine-level admin drop_table
        keeps no such precondition (DIVERGENCES.md superset entry)."""
        if self._table(tableName, check_enabled=False).is_enabled():
            raise IOError_(
                f"TableNotDisabledException: {tableName} must be disabled "
                "before deleteTable"
            )
        try:
            self.store.drop_table(tableName)
        except Exception as ex:  # noqa: BLE001
            raise IOError_(str(ex)) from ex

    def getColumnDescriptors(self, tableName) -> dict:  # noqa: N802
        """Hbase.thrift getColumnDescriptors:168 — family name →
        descriptor attrs (maxVersions/ttl/scope)."""
        t = self._table(tableName)
        return {
            f"{f.name}:": {
                "maxVersions": f.max_versions,
                "ttl": f.ttl,
                "replicationScope": f.replication_scope,
            }
            for f in t.descriptor.families.values()
        }

    def _table(self, tableName, check_enabled: bool = True):  # noqa: N803
        try:
            t = self.store.table(tableName)
        except Exception as ex:  # noqa: BLE001
            raise IOError_(str(ex)) from ex
        if check_enabled and not t.is_enabled():
            raise IOError_(f"table {tableName} is disabled")
        return t

    def enableTable(self, tableName) -> None:  # noqa: N802,N803
        """Hbase.thrift enableTable:155 — persisted table state shared
        with the admin/shell/avro surfaces (StoredTable.enable)."""
        self._table(tableName, check_enabled=False).enable()

    def disableTable(self, tableName) -> None:  # noqa: N802,N803
        """Hbase.thrift disableTable:164"""
        self._table(tableName, check_enabled=False).disable()

    def isTableEnabled(self, tableName) -> bool:  # noqa: N802,N803
        """Hbase.thrift isTableEnabled:172"""
        return self._table(tableName, check_enabled=False).is_enabled()

    def compact(self, tableNameOrRegionName) -> None:  # noqa: N802,N803
        """Hbase.thrift compact:177 (no regions — table granularity)"""
        self._table(tableNameOrRegionName, check_enabled=False).compact()

    def majorCompact(self, tableNameOrRegionName) -> None:  # noqa: N802,N803
        """Hbase.thrift majorCompact:180"""
        self._table(tableNameOrRegionName, check_enabled=False).compact(major=True)

    def getTableRegions(self, tableName) -> list[dict]:  # noqa: N802,N803
        """Hbase.thrift getTableRegions:206 — the table is one logical
        region (partitioning is dynamic per scan); one TRegionInfo-shaped
        row covering the full key space."""
        t = self._table(tableName, check_enabled=False)
        return [{
            "startKey": "", "endKey": "", "id": 0,
            "name": f"{tableName},,0", "version": t.manifest()["version"],
        }]

    # ----------------------------------------------------------- reads

    def _get(self, tableName, get: Get):
        """the client Get every thrift point read runs, with the
        reference's error surface: an undeclared family is the declared
        IOError (HRegion.get's checkFamily NoSuchColumnFamilyException,
        wrapped like every IOException — see :meth:`_mutate`)."""
        try:
            return self._table(tableName).client().get(get)
        except NoSuchColumnFamilyError as ex:
            raise IOError_(str(ex)) from ex

    def _cells(self, tableName, row, column, num_versions, timestamp=None):
        fam, qual = _split_column(column)
        out = self._get(tableName, Get(
            row,
            families=[fam] if qual is None else None,
            columns={fam: [qual]} if qual is not None else None,
            max_versions=num_versions,
            time_range=(_LONG_MIN, timestamp) if timestamp is not None else None,
        )).orderBy(F.col("ts").desc(), F.col("seq").desc())
        return [TCell(c.value, c.ts) for c in out.collect()]

    def get(self, tableName, row, column) -> list[TCell]:  # noqa: N802
        """Hbase.thrift get:246 — latest cell of a column."""
        return self._cells(tableName, row, column, 1)

    def getVer(self, tableName, row, column, numVersions) -> list[TCell]:  # noqa: N802,N803
        """Hbase.thrift getVer:262 — newest N versions."""
        return self._cells(tableName, row, column, numVersions)

    def getVerTs(self, tableName, row, column, timestamp, numVersions) -> list[TCell]:  # noqa: N802,N803
        """Hbase.thrift getVerTs:278 — newest N versions with
        ts < timestamp (exclusive upper bound, matching
        ThriftServer.java:339 setTimeRange(Long.MIN_VALUE, timestamp);
        the IDL doc comment says '<=' but the implementation is '<')."""
        return self._cells(tableName, row, column, numVersions, timestamp)

    def _rows(self, tableName, row, columns=None, timestamp=None):
        fams, cols = _columns_spec(columns)
        out = self._get(tableName, Get(
            row,
            families=fams,
            columns=cols,
            time_range=(_LONG_MIN, timestamp) if timestamp is not None else None,
        )).orderBy("family", "qualifier").collect()
        if not out:
            return []
        return [TRowResult(
            out[0].row,
            {f"{c.family}:{c.qualifier}": TCell(c.value, c.ts) for c in out},
        )]

    def getRow(self, tableName, row) -> list[TRowResult]:  # noqa: N802
        """Hbase.thrift getRow:307 — all columns, latest versions."""
        return self._rows(tableName, row)

    def getRowWithColumns(self, tableName, row, columns) -> list[TRowResult]:  # noqa: N802
        """Hbase.thrift getRowWithColumns:322"""
        return self._rows(tableName, row, columns)

    def getRowTs(self, tableName, row, timestamp) -> list[TRowResult]:  # noqa: N802
        """Hbase.thrift getRowTs:338 — snapshot as of ts."""
        return self._rows(tableName, row, None, timestamp)

    def getRowWithColumnsTs(self, tableName, row, columns, timestamp) -> list[TRowResult]:  # noqa: N802
        """Hbase.thrift getRowWithColumnsTs:355"""
        return self._rows(tableName, row, columns, timestamp)

    # ---------------------------------------------------------- writes

    def _apply(self, tableName, row, mutations, timestamp=None):
        muts = []
        put = Put(row)
        have_put = False
        for m in mutations:
            fam, qual = _split_column(m.column)
            if m.isDelete:
                d = Delete(row)
                if qual is None:
                    d.delete_family(fam, ts=timestamp)
                else:
                    d.delete_columns(fam, qual, ts=timestamp)
                muts.append(d)
            else:
                put.add(fam, qual or "", m.value, ts=timestamp)
                have_put = True
        if have_put:
            muts.append(put)
        return muts

    def _mutate(self, table, muts) -> None:
        """engine mutate with the reference's error surface: a mutation
        naming an undeclared family is the declared IOError
        (ThriftServer wraps IOExceptions — NoSuchColumnFamilyException
        included — never an application-level fault)."""
        try:
            table.mutate(muts)
        except NoSuchColumnFamilyError as ex:
            raise IOError_(str(ex)) from ex

    def mutateRow(self, tableName, row, mutations) -> None:  # noqa: N802
        """Hbase.thrift mutateRow:373 — apply puts/deletes to one row
        (isDelete deletes all versions of the column, ThriftServer
        mutateRowTs → Delete.deleteColumns)."""
        self._mutate(self._table(tableName), self._apply(tableName, row, mutations))

    def mutateRowTs(self, tableName, row, mutations, timestamp) -> None:  # noqa: N802,N803
        """Hbase.thrift mutateRowTs:389"""
        self._mutate(
            self._table(tableName),
            self._apply(tableName, row, mutations, timestamp),
        )

    def mutateRows(self, tableName, rowBatches) -> None:  # noqa: N802,N803
        """Hbase.thrift mutateRows:406 — one commit for the batch."""
        muts = []
        for b in rowBatches:
            muts.extend(self._apply(tableName, b.row, b.mutations))
        self._mutate(self._table(tableName), muts)

    def mutateRowsTs(self, tableName, rowBatches, timestamp) -> None:  # noqa: N802,N803
        """Hbase.thrift mutateRowsTs:424"""
        muts = []
        for b in rowBatches:
            muts.extend(self._apply(tableName, b.row, b.mutations, timestamp))
        self._mutate(self._table(tableName), muts)

    def atomicIncrement(self, tableName, row, column, value) -> int:  # noqa: N802
        """Hbase.thrift atomicIncrement:438"""
        from hbase_snapshot_spark.table import NoSuchColumnFamilyError

        fam, qual = _split_column(column)
        try:
            return self._table(tableName).increment_column_value(
                row, fam, qual or "", value
            )
        except NoSuchColumnFamilyError as ex:
            raise IOError_(str(ex)) from ex

    def deleteAll(self, tableName, row, column) -> None:  # noqa: N802
        """Hbase.thrift deleteAll:452 — all versions of a column."""
        fam, qual = _split_column(column)
        d = Delete(row)
        if qual is None:
            d.delete_family(fam)
        else:
            d.delete_columns(fam, qual)
        self._mutate(self._table(tableName), [d])

    def deleteAllTs(self, tableName, row, column, timestamp) -> None:  # noqa: N802
        """Hbase.thrift deleteAllTs:464 — versions <= timestamp."""
        fam, qual = _split_column(column)
        d = Delete(row)
        if qual is None:
            d.delete_family(fam, ts=timestamp)
        else:
            d.delete_columns(fam, qual, ts=timestamp)
        self._mutate(self._table(tableName), [d])

    def deleteAllRow(self, tableName, row) -> None:  # noqa: N802
        """Hbase.thrift deleteAllRow:487 — whole-row delete."""
        self._mutate(self._table(tableName), [Delete(row)])

    def deleteAllRowTs(self, tableName, row, timestamp) -> None:  # noqa: N802
        """Hbase.thrift deleteAllRowTs:499 — whole-row delete of
        versions <= timestamp (DeleteFamily at ts per family)."""
        t = self._table(tableName)
        d = Delete(row)
        for fam in t.descriptor.families:
            d.delete_family(fam, ts=timestamp)
        self._mutate(t, [d])

    # -------------------------------------------------------- scanners

    @staticmethod
    def _row_result(row_key, cells) -> TRowResult:
        # newest-first cell order: keep the first (latest) cell per
        # column — TRowResult's map holds one TCell
        cols: dict = {}
        for c in cells:
            cols.setdefault(f"{c.family}:{c.qualifier}", TCell(c.value, c.ts))
        return TRowResult(row_key, cols)

    def _open(self, tableName, scan: Scan) -> int:
        from hbase_snapshot_spark.client import RowCursor

        df = self._table(tableName).client().scan(scan)
        return self._scanners.open(RowCursor(df, self._row_result))

    def scannerOpen(self, tableName, startRow, columns=None) -> int:  # noqa: N802,N803
        """Hbase.thrift scannerOpen:494"""
        fams, cols = _columns_spec(columns)
        return self._open(
            tableName, Scan(start_row=startRow or None, families=fams, columns=cols)
        )

    def scannerOpenWithStop(self, tableName, startRow, stopRow, columns=None) -> int:  # noqa: N802,N803
        """Hbase.thrift scannerOpenWithStop:511"""
        fams, cols = _columns_spec(columns)
        return self._open(
            tableName,
            Scan(start_row=startRow or None, stop_row=stopRow or None,
                 families=fams, columns=cols),
        )

    def scannerOpenWithPrefix(self, tableName, startAndPrefix, columns=None) -> int:  # noqa: N802,N803
        """thrift/ThriftServer.java:658-663 — scan rows with the prefix
        (PrefixFilter + start row)."""
        fams, cols = _columns_spec(columns)
        return self._open(
            tableName,
            Scan(start_row=startAndPrefix, families=fams, columns=cols,
                 filter=PrefixFilter(startAndPrefix)),
        )

    def scannerOpenTs(self, tableName, startRow, columns, timestamp) -> int:  # noqa: N802,N803
        """Hbase.thrift scannerOpenTs:529"""
        fams, cols = _columns_spec(columns)
        return self._open(
            tableName,
            Scan(start_row=startRow or None, families=fams, columns=cols,
                 time_range=(_LONG_MIN, timestamp)),
        )

    def scannerOpenWithStopTs(self, tableName, startRow, stopRow, columns, timestamp) -> int:  # noqa: N802,N803
        """Hbase.thrift scannerOpenWithStopTs:548"""
        fams, cols = _columns_spec(columns)
        return self._open(
            tableName,
            Scan(start_row=startRow or None, stop_row=stopRow or None,
                 families=fams, columns=cols, time_range=(_LONG_MIN, timestamp)),
        )

    def scannerGet(self, id) -> list[TRowResult]:  # noqa: N802,A002
        """Hbase.thrift scannerGet:567 — next row ([] = exhausted)."""
        return self.scannerGetList(id, 1)

    def scannerGetList(self, id, nbRows) -> list[TRowResult]:  # noqa: N802,N803,A002
        """Hbase.thrift scannerGetList:576"""
        cur = self._scanners.get(id)
        if cur is None:
            # "@throws IllegalArgument if ScannerID is invalid"
            # (Hbase.thrift:653) — unknown OR lease-expired (Leases.java)
            raise IllegalArgument(f"scanner {id} is not open")
        try:
            return cur.next_rows(nbRows)
        finally:
            # re-arm after the page completes (even on error) — clears
            # the busy mark taken by get()
            self._scanners.renew(id)

    def scannerClose(self, id) -> None:  # noqa: N802,A002
        """Hbase.thrift scannerClose:584"""
        if self._scanners.close(id) is None:
            raise IllegalArgument(f"scanner {id} is not open")
