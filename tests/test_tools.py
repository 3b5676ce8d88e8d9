"""ETL tool tests — ports mapreduce/TestImportTsv, TestTableMapReduce,
TestHFileOutputFormat, TestSimpleTotalOrderPartitioner,
TestTimeRangeMapRed semantics."""

import os

import pytest

from pyspark.sql import functions as F

from hbase_snapshot_spark.client import Table
from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
from hbase_snapshot_spark.sources.tools import (
    bulk_load,
    copy_table,
    export_table,
    import_cells,
    import_tsv,
    melt,
    region_partition_id,
    unmelt,
)
from hbase_snapshot_spark.table import Put, TableStore
from tests.cells import cells_df, delete_column, put


def test_melt_unmelt_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "name", "score"]
    )
    cells = melt(df, "id", {"name": ("f", "name"), "score": ("f", "score")})
    assert cells.count() == 4
    back = unmelt(cells, {("f", "name"): "name", ("f", "score"): "score"})
    got = {(r.row, r.name, r.score) for r in back.collect()}
    assert got == {("1", "a", "10.0"), ("2", "b", "20.0")}


def test_import_tsv(spark, tmp_path):
    p = tmp_path / "in.tsv"
    p.write_text("r1\tv1\tx1\nr2\tv2\tx2\n")
    cells = import_tsv(spark, str(p), ["HBASE_ROW_KEY", "f:a", "g:b"], ts=7)
    got = {(r.row, r.family, r.qualifier, r.ts, r.value) for r in cells.collect()}
    assert got == {
        ("r1", "f", "a", 7, "v1"), ("r1", "g", "b", 7, "x1"),
        ("r2", "f", "a", 7, "v2"), ("r2", "g", "b", 7, "x2"),
    }


def test_import_tsv_requires_row_key(spark):
    with pytest.raises(ValueError):
        import_tsv(spark, "/nonexistent", ["f:a"])


def test_export_import_roundtrip(spark, tmp_path):
    cells = cells_df(spark, [
        put("r1", "f", "q", 10, "v10"),
        put("r1", "f", "q", 20, "v20"),
        delete_column("r1", "f", "q", 10),
    ])
    out = str(tmp_path / "export")
    export_table(cells, out, max_versions=None)
    exported = spark.read.parquet(out)
    # tombstone applied at export: only ts=20 survives
    assert [(r.ts, r.value) for r in exported.collect()] == [(20, "v20")]

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    import_cells(spark, out, t)
    assert [(r.ts, r.value) for r in t.read().collect()] == [(20, "v20")]


def test_copy_table_time_range(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "tables"))
    dst = store.create_table(TableDescriptor("dst").add_family(FamilyDescriptor("f")))
    src = cells_df(spark, [
        put("r1", "f", "q", 10, "old"),
        put("r1", "f", "q", 20, "mid"),
        put("r1", "f", "q", 30, "new"),
    ])
    copy_table(src, dst, time_range=(15, 25))
    assert [(r.ts, r.value) for r in dst.read().collect()] == [(20, "mid")]


def test_row_counter(spark):
    cells = cells_df(spark, [
        put("r1", "f", "a", 10, "v"),
        put("r1", "f", "b", 10, "v"),
        put("r2", "f", "a", 10, "v"),
        delete_column("r3", "f", "a", 99),
        put("r3", "f", "a", 10, "dead"),
    ])
    assert Table(cells).row_count() == 2  # r3 fully masked


def test_bulk_load_sorted_ranges(spark, tmp_path):
    cells = cells_df(spark, [
        put(f"r{i:03d}", "f", "q", 10, f"v{i}") for i in range(100)
    ])
    out = str(tmp_path / "bulk")
    bulk_load(cells, out, num_partitions=4)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) >= 1
    # within each output file rows are sorted (TotalOrderPartitioner +
    # sort reducer contract) and files cover disjoint ranges
    ranges = []
    for f in files:
        rows = [r.row for r in spark.read.parquet(os.path.join(out, f)).collect()]
        assert rows == sorted(rows)
        if rows:
            ranges.append((rows[0], rows[-1]))
    ranges.sort()
    for (_lo, hi), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi < lo2


def test_region_partition_id(spark):
    df = spark.createDataFrame([("a",), ("k",), ("p",), ("z",)], ["row"])
    out = df.select("row", region_partition_id(F.col("row"), ["h", "q"]).alias("pid"))
    assert {(r.row, r.pid) for r in out.collect()} == {
        ("a", 0), ("k", 1), ("p", 1), ("z", 2)
    }


def test_grouping_table_mapper_pattern(spark):
    # GroupingTableMapper + LongSumReducer composition on the resolved view
    from hbase_snapshot_spark.sources.tools import grouping_key

    df = spark.createDataFrame(
        [("u1", "click"), ("u1", "click"), ("u2", "view"), ("u3", None)],
        ["user", "etype"],
    )
    out = (
        df.dropna(subset=["user", "etype"])
        .groupBy(grouping_key(["user", "etype"]).alias("key"))
        .count()
    )
    assert {(r.key, r["count"]) for r in out.collect()} == {
        ("u1 click", 2), ("u2 view", 1)
    }


def test_multi_table_write(spark, tmp_path):
    from hbase_snapshot_spark.sources.tools import multi_table_write

    store = TableStore(spark, str(tmp_path / "mt"))
    for name in ("t1", "t2"):
        store.create_table(TableDescriptor(name).add_family(FamilyDescriptor("f")))
    cells = cells_df(spark, [
        put("r1", "f", "q", 10, "a"),
        put("r2", "f", "q", 10, "b"),
    ])
    routed = cells.withColumn(
        "table", F.when(F.col("row") == "r1", "t1").otherwise("t2")
    )
    multi_table_write(routed, store)
    assert [r.row for r in store.table("t1").read().collect()] == ["r1"]
    assert [r.row for r in store.table("t2").read().collect()] == ["r2"]


def test_adopt_segment_completebulkload(spark, tmp_path):
    cells = cells_df(spark, [put(f"r{i}", "f", "q", 10, str(i)) for i in range(10)])
    prepared = str(tmp_path / "prepared")
    bulk_load(cells, prepared, num_partitions=2)
    store = TableStore(spark, str(tmp_path / "bl"))
    t = store.create_table(TableDescriptor("t").add_family(FamilyDescriptor("f")))
    t.adopt_segment(prepared)
    assert t.client().row_count() == 10
    # adoption is atomic-manifest: a second adoption appends, not replaces
    t.adopt_segment(prepared)
    assert t.cells().count() == 20


def test_import_tsv_skip_bad_lines(spark, tmp_path):
    # F4 corpus: malformed lines (wrong column count) dropped when asked
    p = tmp_path / "bad.tsv"
    p.write_text("r1\ta\tb\nr2\ta\nr3\tc\td\n")
    cells = import_tsv(
        spark, str(p), ["HBASE_ROW_KEY", "f:c1", "f:c2"], skip_bad_lines=True
    )
    rows = {r.row for r in cells.collect()}
    assert rows == {"r1", "r3"}


def test_salted_count_matches_plain(spark):
    from hbase_snapshot_spark.plans.skew import salted_count

    df = spark.createDataFrame(
        [("hot",)] * 500 + [("cold",)] * 3, ["k"]
    )
    out = {(r.k, r.n) for r in salted_count(df, ["k"], buckets=8).collect()}
    assert out == {("hot", 500), ("cold", 3)}


def test_multi_table_write_single_pass(spark, tmp_path):
    # MultiTableOutputFormat contract at scale: N tables must NOT mean N
    # scans of the input.  A per-row accumulator UDF counts input
    # evaluations — the one-pass staging write executes the plan once.
    from hbase_snapshot_spark.sources.tools import multi_table_write

    store = TableStore(spark, str(tmp_path / "mtsp"))
    for name in ("t1", "t2", "t3"):
        store.create_table(TableDescriptor(name).add_family(FamilyDescriptor("f")))
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(v):
        acc.add(1)
        return v

    n = 30
    cells = cells_df(spark, [
        put(f"r{i:02d}", "f", "q", 10, str(i)) for i in range(n)
    ]).withColumn("value", tick(F.col("value")))
    routed = cells.withColumn(
        "table",
        F.concat(F.lit("t"), (F.col("row").substr(2, 2).cast("int") % 3 + 1)),
    )
    multi_table_write(routed, store)
    assert acc.value == n  # one evaluation per input row, not n_tables×n
    total = sum(store.table(f"t{k}").read().count() for k in (1, 2, 3))
    assert total == n


def test_multi_table_write_seq_tiebreak_and_readonly(spark, tmp_path):
    # two successive routed writes at the same (row,f,q,ts): the later
    # one must win resolution ("newer store file wins" needs per-commit
    # seq stamping through the staged path); READONLY still enforced
    from hbase_snapshot_spark.model import cell_schema
    from hbase_snapshot_spark.resolve import ResolveSpec
    from hbase_snapshot_spark.sources.tools import multi_table_write

    store = TableStore(spark, str(tmp_path / "mtsq"))
    store.create_table(TableDescriptor("t1").add_family(FamilyDescriptor("f")))

    def routed(value):
        df = spark.createDataFrame(
            [("r1", "f", "q", 10, 4, value)],
            ["row", "family", "qualifier", "ts", "type", "value"],
        )
        return df.withColumn("table", F.lit("t1"))

    multi_table_write(routed("old"), store)
    multi_table_write(routed("new"), store)
    got = store.table("t1").read(spec=ResolveSpec(max_versions=1)).collect()
    assert [r.value for r in got] == ["new"]

    ro_desc = TableDescriptor("ro", readonly=True).add_family(FamilyDescriptor("f"))
    store.create_table(ro_desc)
    with pytest.raises(PermissionError):
        multi_table_write(routed("x").withColumn("table", F.lit("ro")), store)


def test_unmelt_multi_version_newest_wins(spark):
    # multi-version input: unmelt picks the newest (ts, seq) value, not
    # the lexicographically greatest
    from hbase_snapshot_spark.sources.tools import unmelt

    cells = cells_df(spark, [
        put("r1", "f", "q", 1, "b"),   # older but lexicographically larger
        put("r1", "f", "q", 2, "a"),
    ])
    out = unmelt(cells, {("f", "q"): "col"}).collect()
    assert [(r.row, r.col) for r in out] == [("r1", "a")]


def test_multi_table_write_escaped_names(spark, tmp_path):
    # r6: table names follow HTableDescriptor.isLegalTableName
    # (HBASE-771: charset [a-zA-Z0-9_.-], no leading '.'/'-'), so a
    # space is rejected at create; the legal '.'/'-' names round-trip
    # through the partition-dir staging unescaped
    from hbase_snapshot_spark.sources.tools import multi_table_write

    store = TableStore(spark, str(tmp_path / "esc"))
    with pytest.raises(ValueError, match="Illegal table name"):
        store.create_table(
            TableDescriptor("a b").add_family(FamilyDescriptor("f")))
    store.create_table(
        TableDescriptor("a.b-c").add_family(FamilyDescriptor("f")))
    routed = cells_df(spark, [put("r1", "f", "q", 10, "v")]).withColumn(
        "table", F.lit("a.b-c")
    )
    versions = multi_table_write(routed, store)
    assert versions == {"a.b-c": 1}
    assert store.table("a.b-c").read().count() == 1


def test_salted_spreads_duplicate_rows(spark):
    # duplicates of a hot key are THE skew shape; the salt must vary
    # within identical rows (a content hash would not spread them)
    from hbase_snapshot_spark.plans.skew import salted

    df = spark.createDataFrame([("hot",)] * 500, ["k"])
    n_salts = salted(df, buckets=8).select("_salt").distinct().count()
    assert n_salts > 1


def test_export_applies_descriptor_ttl(spark, tmp_path):
    # Export runs a server-side scan in the reference: expired cells
    # never leave the server; the tool mirrors that when given the
    # descriptor caps
    from hbase_snapshot_spark.sources.tools import export_table

    cells = cells_df(spark, [
        put("r1", "f", "q", 1_000, "stale"),
        put("r2", "f", "q", 90_000, "fresh"),
    ])
    out = str(tmp_path / "exp")
    # ttl 60s, now=100_000ms → cutoff 40_000: r1 expired
    from hbase_snapshot_spark.resolve import ResolveSpec, resolve  # noqa: F401

    export_table(cells, out, max_versions=None, family_ttl={"f": 60})
    # family_ttl without injected now uses wall clock; emulate via resolve
    # check instead: export with explicit spec-equivalent
    got = {r.value for r in spark.read.parquet(out).collect()}
    # wall-clock now >> 90_000ms epoch — both cells are 'expired' relative
    # to wall clock, so assert the mechanism instead with a huge ttl
    out2 = str(tmp_path / "exp2")
    export_table(cells, out2, max_versions=None, family_ttl={"f": 1 << 40})
    got2 = {r.value for r in spark.read.parquet(out2).collect()}
    assert got == set() and got2 == {"stale", "fresh"}


def test_simple_total_order_partitioner_split(spark):
    """mapreduce/TestSimpleTotalOrderPartitioner.testSplit — the exact
    expected shard for each key at 1, 2, and 3 reduces over ['a', '{'),
    plus the Bytes.split interpolation itself."""
    from hbase_snapshot_spark.bytes_util import split_keys
    from hbase_snapshot_spark.sources.tools import simple_total_order_partition
    from pyspark.sql import functions as F

    # Bytes.split('a', '{', 2) → a, i, q, { (integer interval 8)
    assert split_keys(b"a", b"{", 2) == [b"a", b"i", b"q", b"{"]

    df = spark.createDataFrame(
        [("c",), ("q",), ("a",), ("z",)], "row STRING")

    def parts(reduces):
        out = df.select(
            "row",
            simple_total_order_partition(
                F.col("row"), "a", "{", reduces).alias("p"),
        ).collect()
        return {r.row: r.p for r in out}

    assert parts(1) == {"c": 0, "q": 0, "a": 0, "z": 0}
    assert parts(2) == {"c": 0, "q": 1, "a": 0, "z": 1}
    assert parts(3) == {"c": 0, "q": 2, "a": 0, "z": 2}


# --------------------------- mapreduce/TestImportTsv.testTsvParser port


def test_import_tsv_parser_spec(spark, tmp_path):
    """the TsvParser column-spec grammar: a BARE family name ('col_a',
    no colon) addresses the EMPTY qualifier, 'fam:qual' splits on the
    first colon, and HBASE_ROW_KEY can sit at any position
    (TestImportTsv.testTsvParser: spec 'col_a,col_b:qual,
    HBASE_ROW_KEY,col_d', rowKeyColumnIndex == 2)."""
    p = tmp_path / "parser.tsv"
    p.write_text("val_a\tval_b\tval_c\tval_d\n")
    cells = import_tsv(
        spark, str(p),
        ["col_a", "col_b:qual", "HBASE_ROW_KEY", "col_d"], ts=9)
    got = {(r.row, r.family, r.qualifier, r.value) for r in cells.collect()}
    assert got == {
        ("val_c", "col_a", "", "val_a"),      # bare family -> EMPTY qualifier
        ("val_c", "col_b", "qual", "val_b"),
        ("val_c", "col_d", "", "val_d"),
    }


# --------------------------- mapreduce/TestTimeRangeMapRed.java port


def test_time_range_map_red(spark, tmp_path):
    """TestTimeRangeMapRed: 7 versions of one column; a table-scan job
    restricted to setTimeRange(MINSTAMP, MAXSTAMP) + setMaxVersions
    sees EXACTLY the in-range versions; writing value=true back at
    those timestamps flips only those versions (same-ts overwrite via
    seq tie-break)."""
    from hbase_snapshot_spark.client import Scan

    timestamps = {
        1245620000: False,
        1245620005: True,
        1245620010: True,
        1245620055: True,
        1245620100: True,
        1245620150: False,
        1245620250: False,
    }
    minstamp, maxstamp = 1245620005, 1245620100 + 1  # max is exclusive

    store = TableStore(spark, str(tmp_path / "trmr"))
    t = store.create_table(TableDescriptor("table123").add_family(
        FamilyDescriptor("text", max_versions=2 ** 31 - 1)))
    t.mutate([Put("row1").add("text", "input", "false", ts=ts)
              for ts in timestamps], now=1)

    # the "mapper": scan the time slice at all versions, collect its ts set
    sliced = t.client().scan(Scan(
        columns={"text": ["input"]},
        time_range=(minstamp, maxstamp),
        max_versions=None,
    )).collect()
    ts_list = sorted(c.ts for c in sliced)
    assert ts_list == sorted(ts for ts, inc in timestamps.items() if inc)

    # write value=true back at exactly those timestamps
    t.mutate([Put("row1").add("text", "input", "true", ts=ts)
              for ts in ts_list], now=2)

    # verify(): every version's value reflects its in-range flag
    allv = t.client().scan(Scan(columns={"text": ["input"]},
                                max_versions=None)).collect()
    got = {c.ts: c.value for c in allv}
    assert got == {ts: ("true" if inc else "false")
                   for ts, inc in timestamps.items()}
