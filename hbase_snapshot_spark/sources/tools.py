"""ETL / dataflow tools — parity with the reference's ``mapreduce/``
package (7383 LoC; SURVEY §2.5), re-expressed as one-page DataFrame
programs.

Scale notes: every tool is a single declarative plan — no driver-side
loops.  ``melt`` is one scan + explode (column-pruned by Catalyst);
``bulk_load`` is repartitionByRange + sortWithinPartitions + write,
which is literally the TotalOrderPartitioner + KeyValueSortReducer
pipeline (mapreduce/HFileOutputFormat.java:66, writePartitions:183,
KeyValueSortReducer.java:35); ``import_tsv`` reads CSV with
DROPMALFORMED matching the skip-bad-lines counter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshot_spark.model import KeyType
from hbase_snapshot_spark.resolve import ResolveSpec, resolve


def melt(
    df: DataFrame,
    row_col,
    columns: dict[str, tuple[str, str]],
    ts=1000,
    seq=1,
) -> DataFrame:
    """Relational DataFrame → cell stream in ONE pass (scan + explode).

    ``columns`` maps source column → (family, qualifier), the
    importtsv.columns spec of mapreduce/ImportTsv.java:57-112
    (``HBASE_ROW_KEY`` ≡ row_col).  Values are cast to string; use a
    binary variant at the call site if exact byte round-trips matter.
    """
    row = F.col(row_col) if isinstance(row_col, str) else row_col
    ts_col = F.lit(ts) if not isinstance(ts, Column) else ts
    structs = [
        F.struct(
            F.lit(fam).alias("family"),
            F.lit(qual).alias("qualifier"),
            ts_col.cast("long").alias("ts"),
            F.lit(KeyType.PUT).cast("int").alias("type"),
            F.lit(seq).cast("long").alias("seq"),
            F.col(src).cast("string").alias("value"),
        )
        for src, (fam, qual) in columns.items()
    ]
    return (
        df.select(row.cast("string").alias("row"), F.explode(F.array(*structs)).alias("c"))
        .select("row", "c.*")
    )


def unmelt(cells: DataFrame, columns: dict[tuple[str, str], str]) -> DataFrame:
    """Resolved cell stream → relational row view (the Result.getMap
    materialization narrowed to named columns).  One groupBy(row).

    Multi-version inputs pick the NEWEST version per column (max_by on
    (ts, seq) — Result.getValue returns the latest), not the
    lexicographically greatest value."""
    seq = F.col("seq") if "seq" in cells.columns else F.lit(0)
    ts_seq = F.struct(F.col("ts"), seq.alias("seq"))
    aggs = [
        F.max_by(
            F.when(
                (F.col("family") == fam) & (F.col("qualifier") == qual),
                F.col("value"),
            ),
            F.when(
                (F.col("family") == fam) & (F.col("qualifier") == qual),
                ts_seq,
            ),
        ).alias(out)
        for (fam, qual), out in columns.items()
    ]
    return cells.groupBy("row").agg(*aggs)


def import_tsv(
    spark: SparkSession,
    path: str,
    columns: list[str],
    sep: str = "\t",
    skip_bad_lines: bool = False,
    ts=1000,
) -> DataFrame:
    """mapreduce/ImportTsv.java — TSV → cell stream.  ``columns`` uses
    the reference's spec format: 'HBASE_ROW_KEY' plus 'fam:qual' per
    field, e.g. ["HBASE_ROW_KEY", "f:a", "f:b"].  A bare family name
    ('fam', no colon) addresses the EMPTY qualifier, exactly like
    TsvParser (TestImportTsv.testTsvParser: getQualifier(0) ==
    EMPTY_BYTE_ARRAY for spec 'col_a')."""
    if "HBASE_ROW_KEY" not in columns:
        raise ValueError("columns must include HBASE_ROW_KEY")  # ImportTsv:97
    mode = "DROPMALFORMED" if skip_bad_lines else "FAILFAST"
    raw = spark.read.options(sep=sep, mode=mode).csv(path)
    key_idx = columns.index("HBASE_ROW_KEY")
    colmap = {}
    for i, spec in enumerate(columns):
        if i == key_idx:
            continue
        fam, _, qual = spec.partition(":")
        colmap[f"_c{i}"] = (fam, qual)
    return melt(raw, f"_c{key_idx}", colmap, ts=ts)


def export_table(
    cells: DataFrame,
    out_path: str,
    max_versions: int | None = 1,
    time_range: tuple[int, int] | None = None,
    family_ttl: dict | None = None,
    family_max_versions: dict | None = None,
) -> None:
    """mapreduce/Export.java:41-103 — resolved cells → parquet.
    Args mirror the tool's (versions, startTime, endTime); pass the
    table descriptor's TTL/version caps so the export contains exactly
    what a scan would see (Export runs a server-side Scan — expired
    cells never leave the server)."""
    resolve(
        cells,
        spec=ResolveSpec(
            max_versions=max_versions, time_range=time_range,
            family_ttl=family_ttl or {},
            family_max_versions=family_max_versions or {},
        ),
    ).write.parquet(out_path)


def import_cells(spark: SparkSession, in_path: str, table) -> int:
    """mapreduce/Import.java — exported parquet → table append."""
    return table.append_cells(spark.read.parquet(in_path))


def copy_table(
    src_cells: DataFrame,
    dst_table,
    time_range: tuple[int, int] | None = None,
    families: list[str] | None = None,
    family_ttl: dict | None = None,
) -> int:
    """mapreduce/CopyTable.java:56-81 — table→table copy with
    --starttime/--endtime/--families; preserves versions & timestamps.
    Pass the source descriptor's TTLs so expired cells don't resurrect
    in the copy (the tool's scan applies them server-side)."""
    spec = ResolveSpec(max_versions=None, time_range=time_range,
                       families=families, family_ttl=family_ttl or {})
    return dst_table.append_cells(resolve(src_cells, spec=spec))


def row_count(cells: DataFrame, approx: bool = False) -> int:
    """mapreduce/RowCounter.java:40-117 — rows with ≥1 visible cell.
    The FirstKeyOnlyFilter pushdown becomes a distinct on row keys;
    ``approx`` swaps in approx_count_distinct for the 100 TB cheap path."""
    visible = resolve(cells, spec=ResolveSpec(max_versions=1))
    if approx:
        return visible.agg(F.approx_count_distinct("row").alias("n")).collect()[0].n
    return visible.select("row").distinct().count()


ROWCOL_SEP = "\x1f"


def rowcol_key(row: Column, family: Column, qualifier: Column) -> Column:
    """the ROWCOL bloom key — row + column concatenated
    (StoreFile.BloomType:93-105: ROWCOL blooms hash row+qualifier so
    point-COLUMN gets can skip files, not just point-row gets)."""
    return F.concat_ws(ROWCOL_SEP, row, family, qualifier)


def bulk_load(
    cells: DataFrame,
    out_path: str,
    num_partitions: int = 32,
    row_bloom: bool = True,
    bloom_ndv: int = 1_000_000,
    bloom: str = "ROW",
    stats_manifest: bool = True,
) -> None:
    """The HFileOutputFormat bulk-load pipeline
    (mapreduce/HFileOutputFormat.java:66 + SimpleTotalOrderPartitioner +
    KeyValueSortReducer): range-partition by row, sort within partitions
    by the KeyValue total order, write columnar files.  Registering the
    output into a table manifest (LoadIncrementalHFiles) is
    ``table.append_cells`` / a manifest add — metadata-only, no
    region-boundary re-splitting needed.

    ``row_bloom`` writes a parquet bloom filter on the row column — the
    analogue of the reference's ROW bloom (StoreFile.BloomType:93-105,
    shouldSeek:991): point gets skip row groups whose bloom rejects the
    key, on top of the min/max pruning the sort already provides.

    ``bloom="ROWCOL"`` additionally materializes the composite
    ``_rc = row||family||qualifier`` column with its own bloom — the
    ROWCOL variant: a point-COLUMN get filtering on ``_rc`` (see
    ``bloom_point_get``) skips row groups that contain the row but not
    the column.  The aux column lives only in the stored file;
    ``StoredTable.cells()`` projects it away.

    ``stats_manifest`` publishes the per-file ``row`` min/max skipping
    manifest next to the data (operators/layout.py — one footer pass,
    no data pages): the output is row-sorted, so per-file row ranges
    are disjoint and tight, and the engine's scan planner
    (StoredTable.cells_for_ranges) prunes the FILE LIST driver-side
    before Spark plans — at 100 TB that is the difference between
    opening millions of footers and opening none for a point get.
    Disable only when the driver cannot open() the output files."""
    df = cells
    if bloom == "ROWCOL":
        df = df.withColumn(
            "_rc", rowcol_key(F.col("row"), F.col("family"), F.col("qualifier"))
        )
    w = (
        df.repartitionByRange(num_partitions, "row")
        .sortWithinPartitions(
            "row", "family", "qualifier", F.col("ts").desc(), F.col("seq").desc()
        )
        .write
    )
    if row_bloom:
        w = w.option("parquet.bloom.filter.enabled#row", "true").option(
            "parquet.bloom.filter.expected.ndv#row", str(bloom_ndv)
        )
    if bloom == "ROWCOL":
        w = w.option("parquet.bloom.filter.enabled#_rc", "true").option(
            "parquet.bloom.filter.expected.ndv#_rc", str(bloom_ndv)
        )
    w.parquet(out_path)
    if stats_manifest:
        from hbase_snapshot_spark.operators.layout import write_skipping_manifest

        try:
            # row min/max for key-range pruning; ts min/max for
            # time-range / TTL pruning (TimeRangeTracker parity —
            # regionserver/TimeRangeTracker.java:147 tracks per-HFile ts
            # bounds that StoreFile.Reader.shouldSeek:991 consults);
            # type min/max prove a delete-free segment (r15 — the
            # per-HFile "no deletes" stat: StoredTable._files lets
            # mask() skip its tombstone windows on such tables)
            write_skipping_manifest(out_path, ["row", "ts", "type"])
        except OSError as e:
            # a URI-schemed / non-driver-listable out_path (hdfs://,
            # s3a://) is perfectly valid for the WRITE; the manifest is
            # a driver-side optimization — skip it rather than crash
            # AFTER the expensive write completed (r13 advice)
            import warnings

            warnings.warn(
                f"bulk_load: skipping stats manifest for {out_path!r} "
                f"(not driver-listable: {e}); reads stay correct, just "
                f"unpruned", RuntimeWarning)


def bloom_point_get(
    spark: SparkSession, path: str, row, family: str, qualifier
) -> DataFrame:
    """point-column read against a ROWCOL bulk_load output — the
    StoreFile.Reader.shouldSeek:991 path: the ``_rc`` equality predicate
    reaches the parquet scan, so row groups whose ROWCOL bloom rejects
    the (row, column) pair are skipped without decoding."""
    key = f"{row}{ROWCOL_SEP}{family}{ROWCOL_SEP}{qualifier}"
    return (
        spark.read.parquet(path)
        .filter(F.col("_rc") == F.lit(key))
        .drop("_rc")
    )


def region_partition_id(row: Column, boundaries: list) -> Column:
    """mapreduce/SimpleTotalOrderPartitioner.java:46 /
    HRegionPartitioner.java:42 — which range-shard owns a key, given
    sorted split boundaries (start keys of regions 1..n)."""
    # chained whens from the highest boundary down — first match wins
    expr = None
    for i in reversed(range(len(boundaries))):
        cond, val = row >= F.lit(boundaries[i]), F.lit(i + 1)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(F.lit(0)) if expr is not None else F.lit(0)


def simple_total_order_partition(
    row: Column, start, end, reduces: int
) -> Column:
    """mapreduce/SimpleTotalOrderPartitioner.java:46 — the CONFIGURED
    form: divide [start, end) into ``reduces`` equal byte-interval
    shards (Bytes.split interpolation) and assign each key its shard.
    String keys compare as their UTF-8 bytes, like the reference."""
    from hbase_snapshot_spark.bytes_util import split_keys

    a = start.encode() if isinstance(start, str) else bytes(start)
    b = end.encode() if isinstance(end, str) else bytes(end)
    splits = split_keys(a, b, reduces - 1)
    interior = splits[1:reduces]  # boundaries of shards 1..reduces-1
    # compare on the raw UTF-8 bytes — the reference's unsigned-byte
    # order, and interpolated midpoints need not be valid UTF-8 (a
    # decoded lone surrogate would crash py4j's lit())
    if isinstance(start, str):
        row = F.encode(row, "utf-8")
    return region_partition_id(row, interior)


def multi_table_write(
    cells_with_table: DataFrame, store, now=None, staging_dir: str | None = None
) -> dict[str, int]:
    """mapreduce/MultiTableOutputFormat.java:163 — a cell stream carrying
    a ``table`` column is routed to many tables in ONE compute pass: the
    stream is written once, partitioned by table, into a staging
    directory; each table then appends its own partition (reading only
    that slice's files).  The input plan executes exactly once
    regardless of table count — N tables never means N scans.

    The per-table attach goes through ``append_cells`` (not a raw
    segment adoption) so each batch gets that table's commit-seq stamp —
    preserving the "newer store file wins" (ts, seq) tie-break against
    earlier and later commits — and READONLY descriptors are enforced.
    Cost: one extra IO pass over the routed data (staging + segment),
    never a recompute of the input."""
    import os
    import shutil
    import uuid

    # staging defaults UNDER the store's base path: that filesystem is
    # shared by construction (every executor already reads/writes table
    # segments there), whereas a driver-local tempfile.mkdtemp would be
    # invisible to executors on a multi-node cluster
    staging = staging_dir or os.path.join(
        store.base_path, ".staging", f"multi_table_write_{uuid.uuid4().hex}"
    )
    spark = cells_with_table.sparkSession
    ok = False
    try:
        # a caller-provided seq column is preserved (replication-style
        # routing); otherwise append_cells stamps each table's commit seq
        cells_with_table.write.mode("overwrite").partitionBy("table").parquet(
            staging
        )
        from urllib.parse import unquote

        # partition directory names are Hive/URI-escaped by Spark
        # (e.g. 'a b' → 'table=a%20b'); unescape to recover table names but
        # keep the raw directory for the slice read
        dirs = {
            unquote(d.split("=", 1)[1]): d
            for d in sorted(os.listdir(staging))
            if d.startswith("table=")
        }
        # fail BEFORE committing anywhere if any destination is read-only
        tables = {name: store.table(name) for name in dirs}
        for t in tables.values():
            t._check_writable(t.manifest())
        versions = {}
        for name in sorted(dirs):
            slice_df = spark.read.parquet(os.path.join(staging, dirs[name]))
            versions[name] = tables[name].append_cells(slice_df)
        ok = True
        return versions
    finally:
        # the auto-generated default staging dir is ours to reap in all
        # cases; a CALLER-provided staging_dir is only removed on success
        # so a failed staged write leaves the caller's directory (and its
        # debugging artifacts) intact
        if staging_dir is None or ok:
            shutil.rmtree(staging, ignore_errors=True)


def grouping_key(cols: list[str], sep: str = " ") -> Column:
    """mapreduce/GroupingTableMapper.java:39-95 — re-key by concatenation
    of chosen column values; records with any missing value are skipped
    (the caller filters nulls)."""
    return F.concat_ws(sep, *[F.col(c) for c in cols])
