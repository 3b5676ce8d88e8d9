"""Avro API surface — the reference's Avro gateway
(avro/AvroServer.java; protocol IDL avro/hbase.genavro) re-expressed as
plain Python methods over the engine, completing the three-transport
client surface (native client / REST / Thrift / Avro).

Like thrift_api, this is a *method-surface* parity layer: every
hbase.genavro message is here with its exact name, argument record
shape, and result model (AGet/AResult/APut/ADelete/AScan/...), so an
Avro client's call sites translate 1:1.  The wire serialization is out
of scope (documented transport divergence, DIVERGENCES.md).

Cluster-infrastructure messages (getClusterStatus, flush, split) have
no meaning without regionservers; they return honest static answers —
documented per-method rather than raising, matching how AvroServer
itself degrades (e.g. flush is a no-op once everything is durable).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from hbase_snapshot_spark.client import Get
from hbase_snapshot_spark.model import FOREVER, FamilyDescriptor, TableDescriptor
from hbase_snapshot_spark.table import Delete, Put
from hbase_snapshot_spark.table import NoSuchColumnFamilyError as _NoSuchFam


class AIOError(Exception):
    """hbase.genavro error AIOError — general failure / unknown table."""


class AIllegalArgument(Exception):
    """hbase.genavro error AIllegalArgument."""


class ATableExists(Exception):
    """hbase.genavro error ATableExists."""


class AMasterNotRunning(Exception):
    """hbase.genavro error AMasterNotRunning:221 — declared on
    createTable; this engine has no master process so it is never
    raised, but the wire transcription keeps the 4-branch error
    union byte-compatible."""


# ---------------------------------------------------------------- records

@dataclass
class AColumn:
    """hbase.genavro record AColumn (family + optional qualifier)."""

    family: object
    qualifier: object = None


@dataclass
class ATimeRange:
    """hbase.genavro record ATimeRange [minStamp, maxStamp)."""

    minStamp: int  # noqa: N815 — avro field names
    maxStamp: int  # noqa: N815


@dataclass
class AGet:
    """hbase.genavro record AGet."""

    row: object
    columns: list | None = None
    timestamp: int | None = None
    timerange: ATimeRange | None = None
    maxVersions: int | None = None  # noqa: N815


@dataclass
class AResultEntry:
    """hbase.genavro record AResultEntry."""

    family: object
    qualifier: object
    value: object
    timestamp: int


@dataclass
class AResult:
    """hbase.genavro record AResult (row + flat entry list — Avro maps
    can't use non-string keys, so the IDL uses an array)."""

    row: object
    entries: list = field(default_factory=list)


@dataclass
class AColumnValue:
    """hbase.genavro record AColumnValue."""

    family: object
    qualifier: object
    value: object
    timestamp: int | None = None


@dataclass
class APut:
    """hbase.genavro record APut."""

    row: object
    columnValues: list = field(default_factory=list)  # noqa: N815


@dataclass
class ADelete:
    """hbase.genavro record ADelete (columns=None deletes the row)."""

    row: object
    columns: list | None = None


@dataclass
class AScan:
    """hbase.genavro record AScan."""

    startRow: object = None  # noqa: N815
    stopRow: object = None  # noqa: N815
    columns: list | None = None
    timestamp: int | None = None
    timerange: ATimeRange | None = None
    maxVersions: int | None = None  # noqa: N815


@dataclass
class AFamilyDescriptor:
    """hbase.genavro record AFamilyDescriptor (engine-meaningful subset
    populated; physical knobs carried for shape parity)."""

    name: object
    compression: str | None = None
    maxVersions: int | None = None  # noqa: N815
    blocksize: int | None = None
    inMemory: bool | None = None  # noqa: N815
    timeToLive: int | None = None  # noqa: N815
    blockCacheEnabled: bool | None = None  # noqa: N815


@dataclass
class ATableDescriptor:
    """hbase.genavro record ATableDescriptor."""

    name: object
    families: list | None = None
    maxFileSize: int | None = None  # noqa: N815
    memStoreFlushSize: int | None = None  # noqa: N815
    rootRegion: bool | None = None  # noqa: N815
    metaRegion: bool | None = None  # noqa: N815
    metaTable: bool | None = None  # noqa: N815
    readOnly: bool | None = None  # noqa: N815
    deferredLogFlush: bool | None = None  # noqa: N815


def _read_args(columns, timestamp, timerange, max_versions) -> dict:
    """AGet/AScan projection + time knobs → client Get/Scan keywords."""
    fams, cols = [], {}
    for c in columns or []:
        if c.qualifier is None:
            if c.family not in fams:
                fams.append(c.family)
        else:
            cols.setdefault(c.family, []).append(c.qualifier)
            if c.family not in fams:
                fams.append(c.family)
    tr = None
    if timestamp is not None:
        # Get.setTimeStamp(ts) = [ts, ts+1)
        tr = (timestamp, timestamp + 1)
    elif timerange is not None:
        tr = (timerange.minStamp, timerange.maxStamp)
    return dict(
        max_versions=max_versions if max_versions is not None else 1,
        families=fams or None,
        columns=cols or None,
        time_range=tr,
    )


class AvroServer:
    """avro/AvroServer.java HBaseImpl — one instance per TableStore,
    messages named and shaped per hbase.genavro."""

    def __init__(self, store, lease_seconds: float | None = 60.0,
                 now_fn=None):
        from hbase_snapshot_spark.client import ScannerLeases

        self.store = store
        # leased registry (Leases.java:281): thread-safe under threaded
        # transports (avro_wire.serve_avro), idle cursors reclaimed
        # after lease_seconds; cursor paging serializes in RowCursor.
        # now_fn injects the clock for expiry tests.
        self._scanners = ScannerLeases(lease_seconds, now_fn=now_fn)

    def _table(self, table):
        try:
            return self.store.table(table)
        except Exception as ex:  # noqa: BLE001
            raise AIOError(str(ex)) from ex

    def _check_enabled(self, table) -> None:
        if not self._table(table).is_enabled():
            raise AIOError(f"table {table} is disabled")

    # -------------------------------------------------- cluster metadata

    def getHBaseVersion(self) -> str:  # noqa: N802 — avro names
        """hbase.genavro getHBaseVersion — the semantic version the
        engine reproduces."""
        return "0.89-spark"

    def getClusterStatus(self):  # noqa: N802
        """getClusterStatus — there is no cluster; a static descriptor
        with the Spark parallelism as the 'server' count."""
        spark = self.store.spark
        return {
            "hbaseVersion": self.getHBaseVersion(),
            "servers": spark.sparkContext.defaultParallelism,
            "deadServers": 0,
            "averageLoad": 0.0,
            "regionsCount": len(self.store.list_tables()),
        }

    def listTables(self) -> list[ATableDescriptor]:  # noqa: N802
        """hbase.genavro listTables"""
        return [self.describeTable(n) for n in self.store.list_tables()]

    # ---------------------------------------------------- table metadata

    def describeTable(self, table) -> ATableDescriptor:  # noqa: N802
        """hbase.genavro describeTable"""
        t = self._table(table)
        m = t.manifest()
        return ATableDescriptor(
            name=table,
            families=[self.describeFamily(table, f)
                      for f in sorted(t.descriptor.families)],
            readOnly=bool(m["descriptor"].get("readonly")),
        )

    def isTableEnabled(self, table) -> bool:  # noqa: N802
        """hbase.genavro isTableEnabled"""
        return self._table(table).is_enabled()

    def tableExists(self, table) -> bool:  # noqa: N802
        """hbase.genavro tableExists"""
        return table in self.store.list_tables()

    def describeFamily(self, table, family) -> AFamilyDescriptor:  # noqa: N802
        """hbase.genavro describeFamily"""
        t = self._table(table)
        f = t.descriptor.families.get(family)
        if f is None:
            raise AIOError(f"family {family} not in {table}")
        return AFamilyDescriptor(
            name=f.name,
            compression=f.compression,
            maxVersions=f.max_versions,
            inMemory=f.in_memory,
            timeToLive=f.ttl,
            blockCacheEnabled=f.block_cache,
        )

    # ------------------------------------------------------- table admin

    def createTable(self, tableDescriptor: ATableDescriptor) -> None:  # noqa: N802,N803
        """hbase.genavro createTable"""
        if self.tableExists(tableDescriptor.name):
            raise ATableExists(str(tableDescriptor.name))
        desc = TableDescriptor(tableDescriptor.name)
        for af in tableDescriptor.families or []:
            desc.add_family(FamilyDescriptor(
                af.name,
                max_versions=af.maxVersions if af.maxVersions is not None else 3,
                ttl=af.timeToLive if af.timeToLive is not None else FOREVER,
            ))
        try:
            self.store.create_table(desc)
        except Exception as ex:  # noqa: BLE001
            raise AIOError(str(ex)) from ex

    def deleteTable(self, table) -> None:  # noqa: N802
        """hbase.genavro deleteTable — requires the table disabled first
        (AvroServer delegates to admin.deleteTable; master/TableDelete.java:
        35,49 'Table must be offline').  Engine-level admin drop_table has
        no such precondition (DIVERGENCES.md superset entry)."""
        if self._table(table).is_enabled():
            raise AIOError(
                f"TableNotDisabledException: {table} must be disabled "
                "before deleteTable"
            )
        try:
            self.store.drop_table(table)
        except Exception as ex:  # noqa: BLE001
            raise AIOError(str(ex)) from ex

    def modifyTable(self, table, tableDescriptor: ATableDescriptor) -> None:  # noqa: N802,N803
        """hbase.genavro modifyTable — descriptor-level alter."""
        t = self._table(table)
        desc = TableDescriptor(table)
        for af in tableDescriptor.families or []:
            desc.add_family(FamilyDescriptor(
                af.name,
                max_versions=af.maxVersions if af.maxVersions is not None else 3,
                ttl=af.timeToLive if af.timeToLive is not None else FOREVER,
            ))
        t.alter(desc)

    def enableTable(self, table) -> None:  # noqa: N802
        """hbase.genavro enableTable — persisted table state shared
        with the admin/shell/thrift surfaces (StoredTable.enable)."""
        self._table(table).enable()

    def disableTable(self, table) -> None:  # noqa: N802
        """hbase.genavro disableTable"""
        self._table(table).disable()

    def flush(self, table) -> None:  # noqa: N802
        """hbase.genavro flush — every commit is already durable (each
        mutate/append writes its segment before the manifest commit), so
        this is correctly a no-op."""
        self._table(table)

    def split(self, table) -> None:  # noqa: N802
        """hbase.genavro split — no fixed regions to split; partitioning
        is dynamic per scan.  No-op."""
        self._table(table)

    # ------------------------------------------------------ family admin

    def addFamily(self, table, family: AFamilyDescriptor) -> None:  # noqa: N802
        """hbase.genavro addFamily"""
        t = self._table(table)
        desc = t.descriptor
        desc.add_family(FamilyDescriptor(
            family.name,
            max_versions=family.maxVersions if family.maxVersions is not None else 3,
            ttl=family.timeToLive if family.timeToLive is not None else FOREVER,
        ))
        t.alter(desc)

    def deleteFamily(self, table, family) -> None:  # noqa: N802
        """hbase.genavro deleteFamily"""
        t = self._table(table)
        desc = t.descriptor
        if family not in desc.families:
            raise AIOError(f"family {family} not in {table}")
        del desc.families[family]
        t.alter(desc)

    def modifyFamily(self, table, familyName, familyDescriptor: AFamilyDescriptor) -> None:  # noqa: N802,N803
        """hbase.genavro modifyFamily"""
        t = self._table(table)
        desc = t.descriptor
        if familyName not in desc.families:
            raise AIOError(f"family {familyName} not in {table}")
        fd = familyDescriptor
        desc.families[familyName] = FamilyDescriptor(
            familyName,
            max_versions=fd.maxVersions if fd.maxVersions is not None else 3,
            ttl=fd.timeToLive if fd.timeToLive is not None else FOREVER,
        )
        t.alter(desc)

    # ---------------------------------------------------- single-row DML

    def _result(self, row, cells) -> AResult:
        return AResult(row, [
            AResultEntry(c.family, c.qualifier, c.value, c.ts) for c in cells
        ])

    def get(self, table, get: AGet) -> AResult:  # noqa: N802
        """hbase.genavro get"""
        self._check_enabled(table)
        g = Get(get.row, **_read_args(get.columns, get.timestamp,
                                      get.timerange, get.maxVersions))
        try:
            out = self._table(table).client().get(g)
        except _NoSuchFam as ex:
            raise AIOError(str(ex)) from ex
        cells = out.orderBy(
            "family", "qualifier", F.col("ts").desc(), F.col("seq").desc()
        ).collect()
        return self._result(get.row, cells)

    def exists(self, table, get: AGet) -> bool:  # noqa: N802
        """hbase.genavro exists"""
        return len(self.get(table, get).entries) > 0

    def _mutate(self, table, muts) -> None:
        """engine mutate with the reference error surface: an
        undeclared family is the declared AIOError (AvroServer wraps
        IOExceptions — NoSuchColumnFamilyException included)."""
        try:
            self._table(table).mutate(muts)
        except _NoSuchFam as ex:
            raise AIOError(str(ex)) from ex

    def put(self, table, put: APut) -> None:  # noqa: N802
        """hbase.genavro put"""
        self._check_enabled(table)
        p = Put(put.row)
        for cv in put.columnValues:
            p.add(cv.family, cv.qualifier, cv.value, ts=cv.timestamp)
        self._mutate(table, [p])

    def delete(self, table, delete: ADelete) -> None:  # noqa: N802
        """hbase.genavro delete — columns=None deletes the whole row;
        AColumn without qualifier deletes the family."""
        self._check_enabled(table)
        d = Delete(delete.row)
        for c in delete.columns or []:
            if c.qualifier is None:
                d.delete_family(c.family)
            else:
                d.delete_columns(c.family, c.qualifier)
        self._mutate(table, [d])

    def incrementColumnValue(self, table, row, family, qualifier, amount,
                             writeToWAL=True) -> int:  # noqa: N802,N803
        """hbase.genavro incrementColumnValue (writeToWAL carried for
        shape parity; every write here is logged by construction)."""
        self._check_enabled(table)
        try:
            return self._table(table).increment_column_value(
                row, family, qualifier, amount
            )
        except _NoSuchFam as ex:
            raise AIOError(str(ex)) from ex

    # ----------------------------------------------------- multi-row DML

    @staticmethod
    def _row_result(row_key, cells) -> AResult:
        return AResult(row_key, [
            AResultEntry(c.family, c.qualifier, c.value, c.ts) for c in cells
        ])

    def scannerOpen(self, table, scan: AScan) -> int:  # noqa: N802
        """hbase.genavro scannerOpen (AvroServer scanner map + id)"""
        self._check_enabled(table)
        from hbase_snapshot_spark.client import RowCursor, Scan

        t = self._table(table)
        s = Scan(start_row=scan.startRow, stop_row=scan.stopRow,
                 **_read_args(scan.columns, scan.timestamp, scan.timerange,
                              scan.maxVersions))
        return self._scanners.open(
            RowCursor(t.client().scan(s), self._row_result)
        )

    def scannerGetRows(self, scannerId, numberOfRows) -> list[AResult]:  # noqa: N802,N803
        """hbase.genavro scannerGetRows"""
        cur = self._scanners.get(scannerId)
        if cur is None:  # unknown OR lease-expired (Leases.java:281)
            raise AIllegalArgument(f"scanner {scannerId} is not open")
        try:
            return cur.next_rows(numberOfRows)
        finally:
            # re-arm after the page completes (even on error) — clears
            # the busy mark taken by get()
            self._scanners.renew(scannerId)

    def scannerClose(self, scannerId) -> None:  # noqa: N802,N803
        """hbase.genavro scannerClose"""
        if self._scanners.close(scannerId) is None:
            raise AIllegalArgument(f"scanner {scannerId} is not open")
