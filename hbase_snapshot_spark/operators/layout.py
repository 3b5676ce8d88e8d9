"""Z-order (Morton-code) data clustering — multi-dimensional layout
for min/max file skipping, the lakehouse ``OPTIMIZE ZORDER BY``
technique (public: Morton 1966 interleaved codes; Delta Lake OSS
``OptimizeTableCommand`` uses per-column range-partition ids
interleaved bitwise).

Why it matters at 100 TB: a table sorted by ONE column prunes files
only for predicates on that column — every file spans the full range
of every other column.  Interleaving the bits of each clustering
column's RANK gives files that are small hyper-rectangles in all k
dimensions at once, so parquet min/max (footer) statistics prune files
for predicates on ANY clustered column — typically ~N^(1-1/k) of the
span per file instead of the full range.

Scale shape: per-column ranks come from the global_ranks machinery
(operators/ranks.py, ``ties='rank'`` — duplicates welcome) run as ONE
melted single pass over all k columns (r15), so there is NO
single-task window anywhere: ALL columns together cost one
distinct-(dim, value) aggregation, one persisted range exchange, one
metadata-sized offsets pass, and k fan-back hash joins; the final
clustered layout is one ``repartitionByRange`` on the z-value plus a
partition-local sort.  The bit interleave itself is pure bigint
Catalyst (shift/and/sum — whole-stage codegen, no UDF).

Exactness: bucket = ((rank − 1) · 2^bits) div N in bigint — no float
scaling that could flip a bucket boundary between runs or engines.
Ties share a rank, hence a bucket, hence a z-value: the layout is a
pure function of the data.

Cache lifecycle: the rank machinery's persist is load-bearing
(ranks.py documents why), so :func:`zorder_layout` returns a LAZY
DataFrame with two pinned caches (the input + the ranked-keys range
exchange) — wrap the consume in ``rank_cache_scope()`` or use
:func:`zorder_write`, which writes inside a scope and releases them
deterministically.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_snapshot_spark.operators.ranks import (
    _register_cache,
    rank_cache_scope,
    shuffle_partitions,
)

#: total interleaved bits kept ≤ 48: the z-value stays a positive
#: bigint with headroom AND the interleave expression stays ≤ 48
#: shift-and-add terms — well under the 64 KB whole-stage-codegen
#: method limit the front-door fusion once overflowed.
_MAX_TOTAL_BITS = 48


def _interleave(bucket_cols: list[Column], bits: int) -> Column:
    """Morton code: bit j of column i lands at position j·k + i —
    pure bigint shift/and/add, whole-stage-codegen friendly."""
    k = len(bucket_cols)
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, b in enumerate(bucket_cols):
            z = z + F.shiftleft(
                F.shiftrightunsigned(b, j).bitwiseAND(F.lit(1)),
                j * k + i,
            )
    return z


def zorder_value(
    df: DataFrame,
    cols: list[str],
    z_col: str = "_z",
    bits: int | None = None,
    range_partitions: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Add ``z_col``: the Morton interleave of each clustering
    column's exact global rank, quantized to ``bits`` levels per
    column (default: as many as fit ``_MAX_TOTAL_BITS`` total, capped
    at 16 — 65k levels per dimension is far finer than any file
    count).  NULLs follow rank order (ascending ranks NULLs first →
    bucket 0), so they cluster together deterministically.

    r15 single-pass machinery (VERDICT r14 Next #5, guide §2.1 —
    fewest wide dependencies): the k per-column
    ``global_ranks(ties='rank')`` calls (k distinct-key aggregations,
    k persisted range exchanges, k metadata windows, run SERIALLY
    because pass i+1 consumed pass i's fan-back output) collapse into
    ONE melted pass — one distinct-(dim, value) aggregation over the
    k-way melt, one persisted range exchange keyed (dim, value...),
    one metadata window per range bucket AND dim — followed by k
    fan-back hash joins against per-dim bucket maps derived from that
    single materialization.  N rides along as the per-dim weight sum,
    so the old up-front ``df.count()`` job is gone too (``n_rows`` is
    kept for API compatibility but no longer needed).  Rank/bucket
    values are IDENTICAL to the per-column formulation — same
    rank = 1 + preceding row-weight over the same per-dim key order,
    same exact bigint quantization — pinned by
    test_layout.test_zorder_single_pass_matches_global_ranks.

    The input is persisted for the duration of the computation (it is
    read by the melt and again by the fan-back probes; register with
    ``rank_cache_scope`` — zorder_write does — for deterministic
    release).  A layout-maintenance cost, paid when rewriting data,
    not per query."""
    del n_rows  # derived from the melt's weight sums since r15
    if not cols:
        raise ValueError("cols must name at least one clustering column")
    k = len(cols)
    if bits is None:
        bits = min(16, _MAX_TOTAL_BITS // k)
    if bits < 1 or bits * k > _MAX_TOTAL_BITS:
        raise ValueError(
            f"bits={bits} with {k} columns needs {bits * k} interleaved "
            f"bits; 1 ≤ bits·k ≤ {_MAX_TOTAL_BITS}")
    if z_col in df.columns:
        raise ValueError(f"column {z_col!r} already exists")
    reserved = {"_dim", "_c", "_pid", "_kc", "_wc", "_koff", "_woff",
                "_n", "_rk", "_b"} | {f"_v{i}" for i in range(k)}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with zorder_value's "
            "working columns — rename them first")

    from pyspark import StorageLevel
    from pyspark.sql import Window

    spark = df.sparkSession
    P = shuffle_partitions(spark, range_partitions)
    df = _register_cache(df.persist(StorageLevel.MEMORY_AND_DISK))

    # melt: one row per (dim, value) with per-dim value columns so
    # mixed-type clustering columns keep their own ordering (within
    # dim i every _vj (j != i) is constant null and _vi totally orders
    # the dim's keys)
    vcols = [f"_v{i}" for i in range(k)]
    branches = []
    for i, c in enumerate(cols):
        branches.append(df.select(
            F.lit(i).alias("_dim"),
            *[(F.col(cols[j]) if j == i
               else F.lit(None).cast(df.schema[cols[j]].dataType)
               ).alias(vcols[j]) for j in range(k)]))
    melted = branches[0]
    for b in branches[1:]:
        melted = melted.unionByName(b)
    keys = melted.groupBy("_dim", *vcols).agg(F.count(F.lit(1)).alias("_c"))

    # ONE persisted range exchange over the union of all dims' distinct
    # keys — load-bearing persist, same contract as global_ranks: the
    # bucket counts and the ranked keys must observe one
    # materialization of spark_partition_id()
    order = [F.col("_dim").asc()] + [F.col(v).asc() for v in vcols]
    rp = _register_cache(
        keys.repartitionByRange(P, *order)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK))
    # per-(partition, dim) counts: a range bucket may straddle two dims
    cnt = rp.groupBy("_pid", "_dim").agg(
        F.count(F.lit(1)).alias("_kc"), F.sum("_c").alias("_wc"))
    off_w = (Window.partitionBy("_dim").orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    meta = cnt.select(
        "_pid", "_dim",
        (F.sum("_wc").over(off_w) - F.col("_wc")).alias("_woff"),
        F.sum("_wc").over(Window.partitionBy("_dim")).alias("_n"),
    )
    in_w = Window.partitionBy("_pid", "_dim").orderBy(
        *[F.col(v).asc() for v in vcols])
    cum_w = in_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        rp.join(F.broadcast(meta), ["_pid", "_dim"])
        .withColumn("_rk", F.col("_woff")
                    + F.sum("_c").over(cum_w) - F.col("_c") + F.lit(1))
        # exact bigint quantization: rank ∈ [1, N] → bucket ∈ [0, 2^bits)
        .withColumn("_b", F.expr(
            f"CAST(((_rk - 1L) * {1 << bits}L) div _n AS BIGINT)"))
    )

    out = df
    bucket_cols = []
    for i, c in enumerate(cols):
        bc = f"__zb{i}"
        keymap = ranked.filter(F.col("_dim") == i).select(
            F.col(vcols[i]).alias(f"__zk{i}"), F.col("_b").alias(bc))
        out = out.join(keymap, out[c].eqNullSafe(F.col(f"__zk{i}"))) \
                 .drop(f"__zk{i}")
        bucket_cols.append(F.col(bc))
    out = out.withColumn(z_col, _interleave(bucket_cols, bits))
    return out.drop(*[f"__zb{i}" for i in range(k)])


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_partitions: int | None = None,
    bits: int | None = None,
) -> DataFrame:
    """The clustered layout: z-value → ``repartitionByRange`` on it →
    partition-local sort.  Every output partition (→ parquet file) is
    a contiguous z-range, i.e. a small hyper-rectangle in all ``cols``
    at once — the property parquet min/max skipping needs.  Lazy; the
    plan pins two caches (module docstring) — prefer
    :func:`zorder_write` for a bounded lifecycle."""
    spark = df.sparkSession
    P = shuffle_partitions(spark, n_partitions)
    z = zorder_value(df, cols, bits=bits, range_partitions=n_partitions)
    return (z.repartitionByRange(P, "_z")
            .sortWithinPartitions("_z")
            .drop("_z"))


def zorder_write(
    df: DataFrame,
    cols: list[str],
    out_dir: str,
    n_partitions: int | None = None,
    bits: int | None = None,
    mode: str = "overwrite",
    stats_manifest: bool = True,
) -> None:
    """Write the z-clustered layout as parquet and release the rank
    caches deterministically (consume-inside-scope, the
    rank_cache_scope contract).  By default also publishes the
    file-skipping manifest over the clustering columns (the layout
    exists to make per-file min/max tight — recording them costs one
    footer pass; see :func:`write_skipping_manifest`).  Pass
    ``stats_manifest=False`` when the output lands where the driver
    can't open() files (the parquet itself is unaffected).

    The write runs under an ELEVATED range-exchange sample size
    (r15, VERDICT r14 Next #3): the final ``repartitionByRange(_z)``
    draws its boundaries from a reservoir sample, and at the default
    100 points/partition the boundaries wobble run-to-run — file
    z-ranges then straddle the aligned hyper-rectangles and the
    pruning factor degrades nondeterministically (the
    test_layout flake).  At 4096 points/partition any input the
    sampler sees in full (every test-sized input; RangePartitioner
    caps the total sample at 1e6 keys, so the driver-side cost stays
    bounded at scale) yields EXACT quantile boundaries — a
    deterministic layout.  Session conf is restored afterwards
    (briefly visible to concurrent same-session jobs; harmless — a
    larger sample only tightens their boundaries too)."""
    _SAMPLE_CONF = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    conf = df.sparkSession.conf
    old = conf.get(_SAMPLE_CONF, None)
    conf.set(_SAMPLE_CONF, "4096")
    try:
        with rank_cache_scope():
            zorder_layout(df, cols, n_partitions=n_partitions,
                          bits=bits).write.mode(mode).parquet(out_dir)
    finally:
        if old is None:
            conf.unset(_SAMPLE_CONF)
        else:
            conf.set(_SAMPLE_CONF, old)
    if stats_manifest:
        write_skipping_manifest(out_dir, cols)


# ------------------------------------------------- file-skipping manifest

#: published next to the data by write_skipping_manifest / zorder_write
SKIP_MANIFEST_NAME = "_skipping_manifest.json"


def _data_files(path: str) -> list[str]:
    """The data files a ``spark.read.parquet(path)`` of this directory
    would touch: every top-level file not hidden by the `_`/`.` prefix
    convention — NOT just ``*.parquet`` (r13 review: an adopted
    directory written by another tool may carry suffix-less part
    files; a manifest that silently omits them is a partial inventory
    and pruning against it would DROP their rows)."""
    out = []
    for name in os.listdir(path):
        if name.startswith(("_", ".")):
            continue
        p = os.path.join(path, name)
        if os.path.isfile(p):
            out.append(p)
    return out

#: stat types the manifest records — primitives whose Python ordering
#: matches Spark's SQL ordering (ints/floats numerically, strings by
#: code point = binary UTF-8 order).  ``bytes`` (binary row keys) are
#: JSON-encoded as ``{"hex": ...}`` markers — hex is fixed-width with
#: an order-preserving digit alphabet, so hex-string order == byte
#: order, and :func:`_decode_stat` restores bytes for comparisons.
#: Anything else (timestamps, decimals) is recorded as null = "cannot
#: prune on this file", which is always CORRECT, just not helpful.
_STAT_TYPES = (int, float, str, bool, bytes)


def _encode_stat(v):
    """JSON-safe form of a footer stat (bytes → {"hex": ...})."""
    return {"hex": v.hex()} if isinstance(v, bytes) else v


def _decode_stat(v):
    """inverse of _encode_stat — manifest JSON value → comparable."""
    if isinstance(v, dict) and "hex" in v:
        return bytes.fromhex(v["hex"])
    return v


def write_skipping_manifest(path: str, cols: list[str]) -> dict:
    """Collect per-FILE min/max of ``cols`` from the parquet FOOTERS
    (pyarrow metadata — zero data pages read; a footer is ~KB) and
    publish them atomically as ``_skipping_manifest.json`` next to the
    data — the Delta-style file-stats index that lets a reader prune
    the FILE LIST before Spark ever opens a footer.

    Why this matters beyond parquet's own row-group skipping: Spark's
    reader prunes row groups per file AFTER scheduling a task and
    opening the footer — at 100 TB that is millions of footer opens
    and task launches for a query that touches 0.1% of files.  The
    manifest is one driver-sized JSON (a few numbers per file, like
    the shard manifest) consulted BEFORE planning.

    Like the training-shard manifest, the JSON publishes on a
    DRIVER-ACCESSIBLE filesystem (local disk / fuse mount); the data
    files themselves can be anywhere Spark reads.  Returns the
    manifest dict."""
    import pyarrow.parquet as pq

    from hbase_snapshot_spark.table import write_json_atomic

    files: dict[str, dict] = {}
    for f in sorted(_data_files(path)):
        try:
            md = pq.ParquetFile(f).metadata
        except Exception:
            # Spark would fail reading a non-parquet data file anyway,
            # but the manifest must stay a COMPLETE inventory of what a
            # directory read touches (readers use that to detect
            # partial manifests) — record it with null stats, not omit
            files[os.path.basename(f)] = {c: [None, None] for c in cols}
            continue
        stats: dict[str, list] = {c: [None, None] for c in cols}
        ok: dict[str, bool] = {c: True for c in cols}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                name = c.path_in_schema
                if name not in stats or not ok[name]:
                    continue
                st = c.statistics
                if (st is None or not st.has_min_max
                        or not isinstance(st.min, _STAT_TYPES)
                        or not isinstance(st.max, _STAT_TYPES)
                        # Spark's writer records NaN min/max (pyarrow's
                        # excludes NaN rows from stats instead) — both
                        # make the recorded range unusable for pruning,
                        # and NaN is not valid JSON anyway
                        or (isinstance(st.min, float) and st.min != st.min)
                        or (isinstance(st.max, float) and st.max != st.max)):
                    ok[name] = False          # conservative: can't prune
                    stats[name] = [None, None]
                    continue
                lo, hi = stats[name]
                stats[name][0] = st.min if lo is None else min(lo, st.min)
                stats[name][1] = st.max if hi is None else max(hi, st.max)
        files[os.path.basename(f)] = {
            c: [_encode_stat(v) for v in mm] for c, mm in stats.items()
        }
    manifest = {"columns": list(cols), "files": files}
    write_json_atomic(os.path.join(path, SKIP_MANIFEST_NAME), manifest)
    return manifest


def prune_files(manifest: dict, bounds: dict) -> list[str]:
    """File names whose recorded [min, max] of EVERY bounded column
    intersects the requested ``bounds`` (col -> (lo, hi); either side
    None = unbounded).  A file with null stats on a bounded column is
    KEPT (pruning must never drop a file it cannot rule out).

    NaN soundness (r12 review): parquet footer min/max EXCLUDE NaN
    while Spark orders NaN GREATER than every double — so for a
    float-statted column a lower-bound-only predicate (``hi is None``)
    can be satisfied by NaN rows the stats cannot see, and pruning on
    it would drop rows a full scan + filter returns.  Such columns are
    skipped (file kept).  With ``hi`` set the residual ``c <= hi``
    excludes NaN on the full-scan side too, so normal pruning is
    sound."""
    keep = []
    for fname, stats in manifest["files"].items():
        match = True
        for col, (lo, hi) in bounds.items():
            st = stats.get(col)
            if st is None or st[0] is None or st[1] is None:
                continue                      # unknown: cannot rule out
            smin, smax = _decode_stat(st[0]), _decode_stat(st[1])
            is_float = isinstance(smin, float) or isinstance(smax, float)
            if is_float and hi is None:
                continue                      # NaN rows invisible to stats
            # guard the PAIRS the prune actually compares (smin>hi,
            # smax<lo) — r13 shipped the (smin,lo)/(smax,hi) pairing,
            # so a manifest whose min and max carry DIFFERENT types
            # (corrupt or hand-edited) could pass the guard yet
            # TypeError mid-prune (r13 advice)
            if not _comparable_bound(smin, hi) or not _comparable_bound(
                    smax, lo):
                continue                      # type drift: cannot rule out
            if (hi is not None and smin > hi) or (
                    lo is not None and smax < lo):
                match = False
                break
        if match:
            keep.append(fname)
    return sorted(keep)


def _comparable_bound(stat, bound) -> bool:
    """True when ``stat > bound`` / ``stat < bound`` is a meaningful
    total-order comparison — a str bound against a bytes-statted column
    (or vice versa) must KEEP the file, never TypeError mid-prune.
    Bool stats never prune (uniform rule with prune_files_ranges —
    bool is an int subclass, so Python would happily 'compare' them,
    but a bool-statted column is a pathological key and the two entry
    points must apply identical soundness rules)."""
    if bound is None:
        return True
    if isinstance(stat, bool) or isinstance(bound, bool):
        return False
    if isinstance(stat, (int, float)) and isinstance(bound, (int, float)):
        return True
    return isinstance(stat, type(bound)) or isinstance(bound, type(stat))


def prune_files_ranges(manifest: dict, col: str, ranges: list) -> list[str]:
    """Multi-range variant of :func:`prune_files` for ONE column: file
    names whose recorded [min, max] intersects ANY of the closed
    ``ranges`` (list of (lo, hi); either side None = unbounded).  This
    is the scan planner's shape — a batched point-get is 1000
    zero-width ranges, a multi-range scan is 100 of them — and a naive
    files × ranges sweep is O(F·R); instead ranges are sorted by lo
    with a prefix-max over hi (classic interval stabbing), so each
    file costs one bisect: O((F + R) log R) driver-side, which holds
    at millions of files.

    Same soundness rules as prune_files: null/absent stats keep the
    file, float-statted columns never prune a lower-bound-only range
    (NaN invisibility), incomparable bound types keep the file."""
    import bisect as _bisect

    class _NegInf:
        def __lt__(self, other):
            return True

        def __gt__(self, other):
            return False

    neg_inf = _NegInf()
    # sort by lo (None = -inf first), prefix-max of hi (None = +inf).
    # Mixed bound TYPES across ranges (str next to bytes next to int)
    # have no total order — pruning cannot be sound, so keep every
    # file rather than TypeError out of a scan
    try:
        norm = sorted(
            ((lo, hi) for lo, hi in ranges),
            key=lambda r: (r[0] is not None, r[0] if r[0] is not None else 0),
        )
        los = [lo if lo is not None else neg_inf for lo, _ in norm]
        # prefix_unbounded[i]: any of ranges[0..i] has hi=None
        prefix_hi: list = []
        prefix_unbounded: list[bool] = []
        best = None
        unbounded = False
        for _, hi in norm:
            if hi is None:
                unbounded = True
            elif best is None or hi > best:
                best = hi
            prefix_hi.append(best)
            prefix_unbounded.append(unbounded)
    except TypeError:
        return sorted(manifest["files"])
    keep = []
    for fname, stats in manifest["files"].items():
        st = stats.get(col)
        if st is None or st[0] is None or st[1] is None:
            keep.append(fname)                # unknown: cannot rule out
            continue
        smin, smax = _decode_stat(st[0]), _decode_stat(st[1])
        if isinstance(smin, (float, bool)) or isinstance(smax, (float, bool)):
            # floats: NaN rows are invisible to footer stats while
            # Spark sorts NaN above every double — only fully-bounded
            # ranges are sound, and mixing per-range soundness into
            # the sweep is not worth it for a float-keyed scan.
            # bools: never pruned on (same rule as _comparable_bound).
            # Keep the file either way.
            keep.append(fname)
            continue
        try:
            # ranges with lo <= smax: sorted prefix [0, j)
            j = _bisect.bisect_right(los, smax)
        except TypeError:
            keep.append(fname)                # type drift: keep
            continue
        if j == 0:
            continue                          # every range starts above smax
        if prefix_unbounded[j - 1]:
            keep.append(fname)
            continue
        hi_best = prefix_hi[j - 1]
        try:
            if hi_best is not None and hi_best >= smin:
                keep.append(fname)
        except TypeError:
            keep.append(fname)
    return sorted(keep)


def read_pruned(
    spark,
    path: str,
    bounds: dict,
    manifest: dict | None = None,
) -> DataFrame:
    """Range-predicate read through the skipping manifest: prune the
    file list driver-side (zero footer opens for skipped files), read
    only surviving files, and apply the SAME bounds as residual
    filters — so the result equals a full scan + filter by
    construction (the manifest only removes files that cannot match).
    ``bounds``: col -> (lo, hi), closed interval, either side None.

    NULL semantics match filter semantics: a NULL never satisfies a
    range predicate, so rows with NULL in a bounded column are dropped
    by the residual filter exactly as the full scan would."""
    import json as _json

    if manifest is None:
        try:
            with open(os.path.join(path, SKIP_MANIFEST_NAME)) as f:
                manifest = _json.load(f)
        except OSError:
            # non-driver-listable path (hdfs://, s3a://) with no
            # caller-supplied manifest: keep-on-uncertainty — plain
            # unpruned read + residual filters (r13 advice)
            manifest = {"files": {}}
    base = spark.read.parquet(path)
    # a manifest that does not cover every data file in the directory
    # is a PARTIAL inventory (stale, or from a writer whose file set
    # changed) — pruning against it would drop the uncovered files'
    # rows; fall back to the full scan + residual filters (r13 review).
    # A path the driver cannot list (URI-schemed remote data — the
    # files only need to be SPARK-readable when the caller supplies
    # the manifest, the pre-r13 contract) skips the completeness check:
    # the caller-supplied manifest is trusted as the inventory.
    try:
        on_disk = {os.path.basename(f) for f in _data_files(path)}
    except OSError:
        on_disk = None
    covered = set(manifest.get("files", {}))
    if not covered or (on_disk is not None and not on_disk <= covered):
        out = base                            # unprunable, stay correct
    else:
        keep = prune_files(manifest, bounds)
        if not keep:
            out = base.filter(F.lit(False))   # schema-stable empty result
        elif len(keep) == len(manifest["files"]):
            out = base                        # nothing pruned
        else:
            out = spark.read.schema(base.schema).parquet(
                *[os.path.join(path, f) for f in keep])
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            out = out.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(col) <= F.lit(hi))
    return out
