"""The resolve kernel — HBase's implicit "flatten the LSM" read operator.

Re-creates, as one deterministic DataFrame transformation, the combined
semantics of the reference's scan stack:

  - ScanQueryMatcher.match (regionserver/ScanQueryMatcher.java:105-214):
    TTL expiry is checked FIRST (so expired tombstones do not mask),
    tombstones are collected when ``ts >= timeRange.min``
    (withinOrAfterTimeRange, :157-168 — a delete newer than the queried
    range still masks), the data-cell time-range check is
    ``min <= ts < max`` (io/TimeRange.java:34), and the scan filter runs
    BEFORE version counting (comment at :182-187).
  - ScanDeleteTracker (regionserver/ScanDeleteTracker.java:41-156):
    DeleteFamily masks family cells with ts <= tombstone ts; DeleteColumn
    masks qualifier cells with ts <= tombstone ts; Delete (exact) masks
    only ts == tombstone ts.  At equal ts a tombstone sorts before a put
    (type DESC in KeyValue.java:1329) so a same-ts delete always wins.
  - Version counting (ExplicitColumnTracker.java:47,89 /
    ScanWildcardColumnTracker.java:31,59): keep the newest
    min(scan.maxVersions, family.maxVersions) surviving versions per
    (row, family, qualifier) (Store.versionsToReturn:952).
  - The k-way sorted merge (KeyValueHeap.java:43) is unnecessary: the
    window/anti-join formulation is order-free, so Catalyst plans one
    shuffle for the version window and (typically broadcast) joins for
    the sparse tombstone sets.

Scale notes (100 TB posture): the kernel is a single-shuffle plan.  All
masking windows (family tombstone max over (row,family), column
tombstone max over (row,family,qualifier), exact-version flag over
(row,family,qualifier,ts)) and the version-count row_number share one
hash exchange on (row, family): Spark's ClusteredDistribution is
satisfied by any partitioning on a subset of the window keys, so the
finer windows add only local sorts, never a second shuffle — and the
input is scanned exactly once (no tombstone side-joins that would
re-scan it).  Row-range/family predicates are applied before the
exchange, so parquet pushdown prunes the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_snapshot_spark.model import KeyType, FOREVER


@dataclass
class ResolveSpec:
    """Parameters of a read — the union of Get/Scan knobs that affect
    cell visibility (client/Scan.java:79, client/Get.java:63)."""

    max_versions: int | None = 1            # Scan.setMaxVersions (:274); None = all
    time_range: tuple[int, int] | None = None  # [min, max) — Scan.setTimeRange:215
    families: list[str] | None = None       # Scan.addFamily:178
    columns: dict[str, list] | None = None  # family -> qualifiers; Scan.addColumn:192
    cell_filter: Column | None = None       # compiled filter predicate (pre-version-count)
    family_max_versions: dict[str, int] = field(default_factory=dict)
    family_ttl: dict[str, int] = field(default_factory=dict)  # seconds
    now: int | None = None                  # ms epoch for TTL; injectable for determinism
    #: caller-proven guarantee that the INPUT cell stream contains zero
    #: delete-type cells (e.g. every segment's footer stats read
    #: type min == max == PUT — StoredTable._files, the analogue of
    #: per-HFile "no deletes" metadata).  mask() then skips the three
    #: tombstone windows outright: with no tracked deletes famdel /
    #: coldel / verdel are all-null by construction, so the masking
    #: filter reduces to ``type == PUT`` — identical results, three
    #: fewer window aggregates over the (row, family) exchange.
    no_tombstones: bool = False
    #: marks ``family_ttl`` as covering EVERY family of the table's
    #: descriptor (set by :func:`compose`) — lets ts_floor treat the
    #: TTL map's keys as the read set when ``families`` is None,
    #: WITHOUT a per-row family residual filter in mask().
    ttl_complete: bool = False


def compose(descriptor, spec: ResolveSpec | None = None,
            now: int | None = None) -> ResolveSpec:
    """The descriptor-composed COPY of ``spec`` every engine read runs
    under (the caller's spec is never mutated; ``None`` = all
    versions): per-family maxVersions compose by min
    (Store.versionsToReturn:952), a caller-set family TTL overrides the
    descriptor's, and ``now`` fills an unset TTL clock.  With a
    descriptor the TTL map covers every declared family, so the copy is
    marked ``ttl_complete``."""
    spec = replace(spec) if spec is not None else ResolveSpec(max_versions=None)
    if spec.now is None:
        spec.now = now
    if descriptor is None:
        return spec
    fams = descriptor.families.values()
    eff_v = {f.name: f.max_versions for f in fams}
    for fam, n in (spec.family_max_versions or {}).items():
        eff_v[fam] = min(n, eff_v.get(fam, n))
    eff_t = {f.name: f.ttl for f in fams}
    eff_t.update(spec.family_ttl or {})
    spec.family_max_versions, spec.family_ttl = eff_v, eff_t
    spec.ttl_complete = True
    return spec


def _effective_max_versions(spec: ResolveSpec) -> Column | None:
    """min(scan.maxVersions, family.maxVersions) — Store.versionsToReturn:952."""
    if not spec.family_max_versions:
        return F.lit(spec.max_versions) if spec.max_versions is not None else None
    expr = F.lit(spec.max_versions if spec.max_versions is not None else 1 << 31)
    fam_expr = None
    for fam, n in spec.family_max_versions.items():
        cond = F.col("family") == F.lit(fam)
        fam_expr = F.when(cond, F.lit(n)) if fam_expr is None else fam_expr.when(cond, F.lit(n))
    fam_expr = fam_expr.otherwise(F.lit(1 << 31))
    return F.least(expr, fam_expr)


def _ttl_predicate(spec: ResolveSpec) -> Column | None:
    """ts >= now - family.ttl*1000 — ScanQueryMatcher.isExpired (:151-154).
    Applied to tombstones too (expiry is checked before delete tracking).

    Only families the scan actually reads matter (a TTL on an unscanned
    family must not affect the read); ``now`` defaults to wall clock like
    the reference — inject it for deterministic tests (DIVERGENCES)."""
    bounded = {
        f: t for f, t in spec.family_ttl.items()
        if t < FOREVER and (spec.families is None or f in spec.families)
    }
    if not bounded:
        return None
    import time as _time

    now = spec.now if spec.now is not None else int(_time.time() * 1000)
    pred = None
    for fam, ttl_s in bounded.items():
        cutoff = now - ttl_s * 1000
        p = (F.col("family") != F.lit(fam)) | (F.col("ts") >= F.lit(cutoff))
        pred = p if pred is None else (pred & p)
    return pred


def ts_floor(spec: ResolveSpec) -> "int | None":
    """The sound lower bound on cell ``ts`` below which a cell cannot
    influence this scan's result — the file-level TIME pruning bound
    (TimeRangeTracker parity: the reference records per-HFile ts
    min/max — regionserver/TimeRangeTracker.java:147 — and skips files
    outside the scan's range at StoreFile.Reader.shouldSeek:991 /
    MemStore.shouldSeek:509).  None = no sound bound exists.

    Two contributors, combined by max (a cell must survive both):

    * ``time_range [lo, hi)``: data cells need ts in [lo, hi), and
      tombstones are only tracked withinOrAfterTimeRange (ts >= lo —
      mask() above), so cells with ts < lo contribute NOTHING.  The
      UPPER side is deliberately unusable: a delete NEWER than the
      range still masks in-range puts (tracking has no upper bound),
      so a file wholly above the range can still change the result —
      only the floor is a sound file-prune bound.

    * TTL: expiry is applied before delete tracking (an expired
      tombstone no longer masks — ScanQueryMatcher.java:151-154), so
      cells below their family's cutoff contribute nothing.  Only
      sound when the scan's read family set is KNOWN — either
      ``spec.families`` is not None, or ``spec.ttl_complete`` marks
      ``family_ttl`` as covering every declared family (the
      descriptor-composition paths set it; an unrestricted scan reads
      exactly the declared set) — and EVERY read family is
      TTL-bounded; otherwise a file of unbounded-family cells could
      be wrongly dropped.  The bound is the min of the per-family
      cutoffs.  ``now=None`` (wall clock) yields no TTL bound: the
      residual predicate's later clock gives a cutoff >= any bound
      computed here, so pruning on a driver-clock cutoff would be
      sound, but a non-deterministic plan is not worth the window."""
    lo = None
    if spec.time_range is not None:
        lo = spec.time_range[0]
    fams = spec.families
    if fams is None and spec.ttl_complete and spec.family_ttl:
        fams = list(spec.family_ttl)
    if fams is not None and spec.now is not None and spec.family_ttl:
        ttls = [spec.family_ttl.get(f) for f in fams]
        if all(t is not None and t < FOREVER for t in ttls):
            cut = min(spec.now - t * 1000 for t in ttls)
            lo = cut if lo is None else max(lo, cut)
    return lo


def mask(cells: DataFrame, spec: ResolveSpec) -> DataFrame:
    """Stage 1 of the read path: family projection + TTL + tombstone
    masking + data-cell time range.  Output is the "filter slot" stream
    — exactly the cells the reference's ScanQueryMatcher hands to
    ``filter.filterKeyValue`` (masked/expired/out-of-range cells are
    SKIPped before the filter; qualifier projection and version counting
    happen after)."""
    if "seq" not in cells.columns:
        cells = cells.withColumn("seq", F.lit(0).cast("long"))

    # -- family projection: a scan only opens the requested family Stores
    #    (HRegion RegionScanner:2364-2368); tombstones of other families
    #    are invisible to it by construction.
    if spec.families is not None:
        cells = cells.filter(F.col("family").isin(list(spec.families)))

    # -- TTL expiry, before everything (ScanQueryMatcher.java:151-154):
    #    an expired tombstone no longer masks.
    ttl_pred = _ttl_predicate(spec)
    if ttl_pred is not None:
        cells = cells.filter(ttl_pred)

    # Single-shuffle formulation: ONE exchange on (row, family) satisfies
    # the clustered-distribution requirement of every window below (and of
    # the version-count window that follows in count_versions), so the
    # whole read path costs one shuffle + local sorts — no joins, no
    # re-scans of the input.  This is the 100 TB-critical property.
    t = F.col("type")
    ts = F.col("ts")

    # -- tombstone collection honors withinOrAfterTimeRange (:157-168):
    #    only deletes with ts >= timeRange.min are tracked (deletes newer
    #    than the range still mask; older-than-range deletes do not).
    w_rfqt = Window.partitionBy("row", "family", "qualifier", "ts")

    if spec.no_tombstones:
        # caller-proven delete-free stream (footer type stats — see the
        # ResolveSpec field): famdel/coldel/verdel would be all-null, so
        # masking reduces to the PUT filter.  Identical results, three
        # fewer window aggregates — and the type predicate now sits
        # directly on the scan, so parquet can push it down.
        live = cells.filter(t == KeyType.PUT)
    else:
        tracked = t.isin(list(KeyType.DELETES))
        if spec.time_range is not None:
            tracked = tracked & (ts >= F.lit(spec.time_range[0]))

        w_rf = Window.partitionBy("row", "family")
        w_rfq = Window.partitionBy("row", "family", "qualifier")

        famdel = F.max(
            F.when(tracked & (t == KeyType.DELETE_FAMILY), ts)).over(w_rf)
        coldel = F.max(
            F.when(tracked & (t == KeyType.DELETE_COLUMN), ts)).over(w_rfq)
        verdel = F.max(
            F.when(tracked & (t == KeyType.DELETE), F.lit(1))).over(w_rfqt)

        live = (
            cells.withColumn("_famdel", famdel)
            .withColumn("_coldel", coldel)
            .withColumn("_verdel", verdel)
            .filter(t == KeyType.PUT)
            .filter(
                (F.col("_famdel").isNull() | (ts > F.col("_famdel")))
                & (F.col("_coldel").isNull() | (ts > F.col("_coldel")))
                & F.col("_verdel").isNull()
            )
            .drop("_famdel", "_coldel", "_verdel")
        )

    # -- same-coordinate rewrite collapse: two Puts at one
    #    (row, family, qualifier, ts) keep only the newer-seq value —
    #    MemStore's backing map is a ConcurrentSkipListMap whose put()
    #    REPLACES an equal key (KeyValueSkipListSet.java:157-159), so a
    #    same-ts rewrite physically overwrites; across store files the
    #    newer file wins.  Collapsing before the filter slot and version
    #    counting makes a rewrite consume ONE version slot
    #    (TestFromClientSide.testDuplicateVersions:2973-2987 — VALUES[14]
    #    replaces VALUES[4] and maxVersions=7 still reaches STAMPS[2]).
    #    The (row,family,qualifier,ts) window reuses the (row,family)
    #    exchange above — subset clustering, no extra shuffle.
    live = (
        live.withColumn(
            "_dup",
            F.row_number().over(w_rfqt.orderBy(F.col("seq").desc())),
        )
        .filter(F.col("_dup") == 1)
        .drop("_dup")
    )

    # -- data-cell time range [min, max) (io/TimeRange.java:34-42)
    if spec.time_range is not None:
        lo, hi = spec.time_range
        live = live.filter((ts >= F.lit(lo)) & (ts < F.lit(hi)))
    return live


def project_columns(live: DataFrame, spec: ResolveSpec) -> DataFrame:
    """Qualifier projection (ExplicitColumnTracker) — runs after the
    filter slot (ScanQueryMatcher.match calls checkColumn last) and
    before version counting."""
    if spec.columns is None:
        return live
    proj = None
    for fam, quals in spec.columns.items():
        p = (F.col("family") == F.lit(fam)) & F.col("qualifier").isin(list(quals))
        proj = p if proj is None else (proj | p)
    # families selected via addFamily alongside addColumn'd ones mean "all
    # columns of this family": Scan.addFamily puts (family -> null) in the
    # familyMap (client/Scan.java:178-180), and a null qualifier set skips
    # the explicit column tracker for that family.
    whole = [f for f in (spec.families or []) if f not in spec.columns]
    if whole:
        proj = proj | F.col("family").isin(whole)
    return live.filter(proj)


def count_versions(live: DataFrame, spec: ResolveSpec) -> DataFrame:
    """Version counting: newest N per column; ties on ts broken by seq
    DESC ("newer store file wins", TestFromClientSide:2873)."""
    nmax = _effective_max_versions(spec)
    if nmax is None:
        return live
    w = Window.partitionBy("row", "family", "qualifier").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    return (
        live.withColumn("_version", F.row_number().over(w))
        .filter(F.col("_version") <= nmax)
        .drop("_version")
    )


def resolve(cells: DataFrame, spec: ResolveSpec | None = None, **kwargs) -> DataFrame:
    """raw cell stream -> visible cells under the spec.

    ``cells`` must have columns row, family, qualifier, ts, type, value
    (``seq`` optional; synthesized as 0 when absent).  Returns the same
    columns, restricted to visible Put cells.
    """
    if spec is None:
        spec = ResolveSpec(**kwargs)
    elif kwargs:
        raise TypeError("pass either a ResolveSpec or keyword knobs, not both")

    if "seq" not in cells.columns:
        cells = cells.withColumn("seq", F.lit(0).cast("long"))
    out_cols = list(cells.columns)

    live = mask(cells, spec)
    live = project_columns(live, spec)

    # -- scan filter BEFORE version counting (ScanQueryMatcher.java:182-187)
    if spec.cell_filter is not None:
        live = live.filter(spec.cell_filter)

    live = count_versions(live, spec)
    return live.select(*out_cols)


def resolved_to_rows(visible: DataFrame) -> DataFrame:
    """Materialize rows the way Result.getMap() does (Result.java:168):
    row -> family -> qualifier -> ts -> value as nested maps.

    One groupBy(row) shuffle; at 100 TB this is the same aggregation
    HBase performs region-locally — range-partitioned input keeps it
    skew-free.
    """
    # duplicate (row,f,q,ts) cells (same-ts rewrites, distinct seq) must
    # collapse to the newer-seq value before the map build — TreeMap.put
    # overwrite semantics in Result.getMap; map_from_entries would throw
    # on duplicate keys
    w = Window.partitionBy("row", "family", "qualifier", "ts").orderBy(
        F.col("seq").desc()
    )
    visible = (
        visible.withColumn("_dup", F.row_number().over(w))
        .filter(F.col("_dup") == 1)
        .drop("_dup")
    )
    by_qual = visible.groupBy("row", "family", "qualifier").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("ts").alias("k"), F.col("value").alias("v")))
        ).alias("versions")
    )
    by_fam = by_qual.groupBy("row", "family").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("qualifier").alias("k"), F.col("versions").alias("v"))
            )
        ).alias("qualifiers")
    )
    return by_fam.groupBy("row").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("family").alias("k"), F.col("qualifiers").alias("v"))
            )
        ).alias("families")
    )
