"""Scan execution pipeline — the engine's equivalent of the reference's
scanner stack (HRegion.RegionScanner:2333 → StoreScanner:36 →
ScanQueryMatcher.match:105), laid out as declarative DataFrame stages so
Catalyst plans the physical execution:

  1. row-range + prefix pruning          (file skipping / seek hints)
  2. mask(): family proj, TTL, tombstones, time range
  3. filter cell predicate               (filterKeyValue SKIP path)
  4. filter stream transforms            (per-row cell counting filters)
  5. qualifier projection                (ExplicitColumnTracker)
  6. version counting                    (newest N per column)
  7. row keep/drop joins + post hooks    (filterRow path)

Stage 1 happens BEFORE everything so parquet row-group pruning sees the
predicate (the reference's analogue: bloom/timerange ``shouldSeek``
pruning at StoreScanner.java:150-168).  Stages 3-4 run before version
counting, matching ScanQueryMatcher.java:182-187.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_snapshot_spark.resolve import ResolveSpec, count_versions, mask, project_columns

# persisted filter-stream handles keyed by cache owner (a StoredTable's
# directory).  The owner's manifest swap (mutate/compact/restore) calls
# release_caches so blocks from a superseded table version don't sit in
# the storage pool as dead weight until LRU eviction — at 100x scale
# with many distinct scans that pool fills with unreachable blocks.
_PERSISTED: dict[object, list[DataFrame]] = {}
# the wire front-ends (thrift/avro/rest) scan from SERVER THREADS while
# writers commit: an unlocked setdefault/pop pair could hand the scan
# thread a list release_caches had already popped — its handle would
# append to an orphaned list and that cache would never release
import threading as _threading

_PERSISTED_LOCK = _threading.Lock()

#: LRU cap on the OWNERLESS (None-keyed) bucket.  Owned scans free on
#: their table's manifest swap, but nothing in a long-lived wire server
#: doing bare-DataFrame scans ever calls release_caches(None) — without
#: a cap that bucket grows one strong CacheManager reference per
#: multi-use scan forever (the SQL CacheManager never LRU-evicts
#: ENTRIES, only blocks).  Eviction is unpersist-only and therefore
#: always safe: the evicted scan's lazy plan recomputes from the
#: segment files.  Raise/lower per deployment via this module constant.
OWNERLESS_CACHE_CAP = 32


def release_caches(owner: "str | None") -> int:
    """unpersist every filter-stream cache registered under ``owner``;
    returns how many handles were released.  Safe while readers hold the
    derived DataFrames: unpersist only drops cached blocks, the lazy
    plan recomputes from the (still-present, pre-vacuum) segment files.
    ``release_caches(None)`` frees the caches of ownerless scans (bare
    run_scan over a DataFrame with no table lifecycle)."""
    with _PERSISTED_LOCK:
        handles = _PERSISTED.pop(owner, [])
    for df in handles:
        df.unpersist(blocking=False)
    return len(handles)


def run_scan(cells: DataFrame, scan, spec: ResolveSpec | None = None,
             cache_owner: str | None = None, select=None) -> DataFrame:
    """Execute a client.Scan against a raw cell DataFrame.

    ``spec``: the resolve spec to run under — the client passes its
    descriptor-composed one (``resolve.compose``); default
    ``scan.to_spec()``.

    ``cache_owner``: registry key for any persist this scan takes out,
    so the owning table can release it on manifest swap.  Ownerless
    scans (None) register under the None key: the SQL CacheManager
    holds persisted queries by strong reference (nothing LRU-bounds
    the ENTRIES — only in-memory blocks spill), so the None bucket is
    LRU-capped at ``OWNERLESS_CACHE_CAP`` (oldest handle unpersisted on
    overflow — always safe, the plan recomputes from segment files);
    ``release_caches(None)`` still frees the bucket eagerly.

    ``select``: the owning table's pruned-source selection
    (``client.Table._select``).  Once stage 1 has the effective
    [start, stop) — scan bounds tightened by the filter's range hint —
    it returns the cell stream read from only the files that can
    intersect it (and the spec, delete-free when proven).  The stage 1
    predicate is STILL applied as a residual, so the result is
    identical by construction; the exclusive ``stop`` is passed as a
    closed hi (a superset — never drops a matching file)."""
    if spec is None:
        spec = scan.to_spec()
    compiled = scan.filter.compile() if scan.filter is not None else None

    # ---- stage 1: key-range pruning (pushed to the parquet scan)
    pred = None
    start, stop = scan.start_row, scan.stop_row
    if compiled is not None and compiled.range_hint is not None:
        h_start, h_stop = compiled.range_hint

        def _comparable(a, b):
            # a str prefix hint over a binary-keyed scan (or vice versa)
            # would TypeError at plan build; dropping the HINT is always
            # correct — the un-hinted range is a superset and the
            # filter's own predicate still applies
            return (a is None or b is None
                    or isinstance(a, type(b)) or isinstance(b, type(a)))

        if _comparable(h_start, start) and _comparable(h_stop, stop):
            if start is None or (h_start is not None and h_start > start):
                start = h_start
            if stop is None or (h_stop is not None and h_stop < stop):
                stop = h_stop
    if select is not None:
        # driver-side FILE pruning before Spark plans; residual below
        cells, spec = select(spec, [(start, stop)]
                             if (start is not None or stop is not None) else [])
    if start is not None:
        pred = F.col("row") >= F.lit(start)
    if stop is not None:
        p2 = F.col("row") < F.lit(stop)
        pred = p2 if pred is None else pred & p2
    if pred is not None:
        cells = cells.filter(pred)

    # ---- stage 2: the masked "filter slot" stream
    stream = mask(cells, spec)

    # ---- stage 3: cell predicate (filterKeyValue SKIP path)
    if compiled is not None and compiled.cell_pred is not None:
        stream = stream.filter(compiled.cell_pred)

    # persist ONLY when something reads the masked stream twice:
    # row-level hooks (the hook reads the stream AND the main pipeline
    # consumes it) and the multi-consume transforms (DependentColumn's
    # stamp join, WhileMatch's cut).  The single-pass window transforms
    # (pagination family) used to trigger this too — materializing the
    # whole masked table into the storage pool for a stream consumed
    # exactly once.
    multi_use = compiled is not None and (
        compiled.row_keep is not None
        or compiled.row_drop is not None
        or (compiled.stream_transform is not None and compiled.multi_consume)
    )
    if multi_use:
        from pyspark import StorageLevel

        # the result is lazy, so there is no safe point to release the
        # cache inside this function; every handle registers (owned
        # scans free on the table's next manifest swap, ownerless ones
        # via release_caches(None))
        stream = stream.persist(StorageLevel.MEMORY_AND_DISK)
        evicted: list[DataFrame] = []
        with _PERSISTED_LOCK:
            bucket = _PERSISTED.setdefault(cache_owner, [])
            bucket.append(stream)
            # ownerless bucket is LRU-capped (see OWNERLESS_CACHE_CAP);
            # owned buckets are bounded by their table's manifest swaps
            if cache_owner is None and len(bucket) > OWNERLESS_CACHE_CAP:
                n = len(bucket) - OWNERLESS_CACHE_CAP
                evicted, bucket[:n] = bucket[:n], []
        for df in evicted:
            df.unpersist(blocking=False)

    # ---- stage 4: stream transforms (per-row/cell counting filters)
    if compiled is not None and compiled.stream_transform is not None:
        stream = compiled.stream_transform(stream)

    # ---- stages 5-6
    out = project_columns(stream, spec)
    out = count_versions(out, spec)

    # ---- stage 7: row-level hooks (filterRow) and output shaping
    if compiled is not None:
        if compiled.row_drop is not None:
            out = out.join(compiled.row_drop(stream), on="row", how="left_anti")
        if compiled.row_keep is not None:
            out = out.join(compiled.row_keep(stream), on="row", how="left_semi")
        if compiled.post is not None:
            out = compiled.post(out)
    return out
