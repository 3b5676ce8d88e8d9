"""Z-order clustering (operators/layout.py): exact Morton codes from
the distributed rank machinery, and the property the layout exists
for — per-file min/max ranges shrink in EVERY clustered dimension."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from hbase_snapshot_spark.operators.layout import (
    zorder_layout,
    zorder_value,
    zorder_write,
)


def _ref_z(pdf: pd.DataFrame, cols, bits: int) -> list[int]:
    """Independent pure-pandas reference: SQL rank() (method='min',
    nulls first — Spark's ascending-window default) → exact bigint
    bucket → Morton interleave."""
    n = len(pdf)
    buckets = []
    for c in cols:
        rk = pdf[c].rank(method="min", na_option="top").astype(int)
        buckets.append(((rk - 1) * (1 << bits)) // n)
    out = []
    k = len(cols)
    for row in zip(*buckets):
        z = 0
        for j in range(bits):
            for i, b in enumerate(row):
                z |= ((int(b) >> j) & 1) << (j * k + i)
        out.append(z)
    return out


def test_zorder_value_matches_pandas_reference(spark):
    """Bit-exact vs an independent reference, including duplicates
    (shared rank ⇒ shared z) and NULLs (rank-first ⇒ bucket 0)."""
    rows = [((i * 131) % 23 if i % 11 else None, (i * 17) % 40, i)
            for i in range(300)]
    df = spark.createDataFrame(rows, "x long, y long, id long")
    got = {r.id: r._z
           for r in zorder_value(df, ["x", "y"], bits=8).collect()}
    pdf = pd.DataFrame(rows, columns=["x", "y", "id"])
    want = dict(zip(pdf["id"], _ref_z(pdf, ["x", "y"], 8)))
    assert got == want
    # determinism across layouts
    got2 = {r.id: r._z
            for r in zorder_value(df.repartition(7), ["x", "y"],
                                  bits=8).collect()}
    assert got2 == want
    spark.catalog.clearCache()   # release the unscoped rank caches


def test_zorder_guard_rails(spark):
    df = spark.createDataFrame([(1, 2)], "x long, _z long")
    with pytest.raises(ValueError, match="at least one"):
        zorder_value(df, [])
    with pytest.raises(ValueError, match="already exists"):
        zorder_value(df, ["x"])
    with pytest.raises(ValueError, match="interleaved"):
        zorder_value(df.drop("_z"), ["x"], bits=64)


def test_zorder_files_are_hyperrectangles(spark, tmp_path):
    """The point of the layout: on a 64×64 uniform grid written as 16
    files, a single-column sort leaves every file spanning the FULL
    range of the other column, while the z-order layout bounds BOTH
    per-file ranges near the √-law hyper-rectangle — the shape parquet
    min/max skipping turns into file pruning for predicates on either
    column."""
    rows = [((i * 2531) % 4096 // 64, (i * 2531) % 4096 % 64)
            for i in range(4096)]
    df = spark.createDataFrame(rows, "x long, y long")

    zdir = str(tmp_path / "zorder")
    zorder_write(df, ["x", "y"], zdir, n_partitions=16)
    xdir = str(tmp_path / "xsorted")
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
       .write.parquet(xdir))

    def mean_widths(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max("x") - F.min("x")).alias("wx"),
                 (F.max("y") - F.min("y")).alias("wy"))
            .agg(F.avg("wx").alias("wx"), F.avg("wy").alias("wy"),
                 F.count(F.lit(1)).alias("files"))
            .collect()[0])
        return per_file.wx, per_file.wy, per_file.files

    zx, zy, zf = mean_widths(zdir)
    sx, sy, sf_ = mean_widths(xdir)
    assert zf >= 8 and sf_ >= 8          # the comparison is per-FILE
    # x-sorted: x prunes hard, y spans everything
    assert sx <= 8 and sy >= 56
    # z-order: BOTH dimensions bounded (16 files over 64×64 → ~16-wide
    # tiles; allow generous slack for range-partition imbalance)
    assert zx <= 32 and zy <= 32
    assert zy < sy / 2                   # the headline property


def test_zorder_write_releases_rank_caches(spark, tmp_path):
    """zorder_write consumes inside rank_cache_scope — the k
    load-bearing rank caches must be gone afterwards."""
    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [((i * 7) % 50, (i * 13) % 50) for i in range(500)],
        "x long, y long")
    zorder_write(df, ["x", "y"], str(tmp_path / "zc"), n_partitions=4)
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getRDDStorageInfo() is None or len(jsc.getRDDStorageInfo()) == 0
    # and the written layout round-trips completely
    assert spark.read.parquet(str(tmp_path / "zc")).count() == 500


def test_zorder_layout_keeps_all_rows_and_columns(spark):
    df = spark.createDataFrame(
        [((i * 3) % 11, (i * 5) % 13, f"p{i}") for i in range(200)],
        "a long, b long, payload string")
    out = zorder_layout(df, ["a", "b"], n_partitions=4)
    assert out.columns == ["a", "b", "payload"]
    assert sorted(r.payload for r in out.collect()) == sorted(
        f"p{i}" for i in range(200))
    spark.catalog.clearCache()


def test_zorder_layout_tolerates_auto_shuffle_partitions(spark):
    """(r12, ADVICE) some platforms manage spark.sql.shuffle.partitions
    as the non-numeric 'auto' — int(conf) crashed zorder_layout's
    partition-count derivation, the same failure mode pack_sequences
    already removed.  OSS Spark validates the conf at set() time, so
    the non-numeric read is simulated at the helper seam the operators
    all go through (shuffle_partitions)."""
    from hbase_snapshot_spark.operators.ranks import shuffle_partitions

    class _AutoConf:
        def get(self, key):
            assert key == "spark.sql.shuffle.partitions"
            return "auto"

    class _AutoSpark:
        conf = _AutoConf()

    assert shuffle_partitions(_AutoSpark()) == 200        # fallback, no crash
    assert shuffle_partitions(_AutoSpark(), override=7) == 7
    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))   # numeric passthrough
    # and the operator path still builds and runs with an explicit count
    df = spark.createDataFrame(
        [(i, (i * 7) % 13, (i * 3) % 5) for i in range(40)],
        ["id", "x", "y"])
    assert zorder_layout(df, ["x", "y"], n_partitions=4, bits=4).count() == 40


def _scan_metrics(spark, path, pred):
    """execute filter(pred) over the parquet dir and return the LEAF
    scan node's metrics — numOutputRows counts rows in the row groups
    the parquet reader actually DECODED (pushed-down predicates skip
    whole row groups via footer min/max, so skipped groups never reach
    this count)."""
    q = spark.read.parquet(path).filter(pred)
    q.collect()
    leaf = q._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    out, it = {}, leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _row_groups_matching(path, col, lo, hi):
    """(matching, total) row groups whose footer [min,max] of ``col``
    intersects [lo, hi] — the exact skipping decision any parquet
    reader makes from file metadata alone."""
    import glob
    import pyarrow.parquet as pq

    n = tot = 0
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == col:
                    tot += 1
                    st = c.statistics
                    if st is None or (st.min <= hi and st.max >= lo):
                        n += 1
    return n, tot


def test_zorder_prunes_row_groups_on_second_column(spark, tmp_path):
    """(r12, VERDICT) the property Z-order exists for, asserted through
    the REAL reader: the same 64x64 grid written z-ordered on (x,y) vs
    single-sorted on x, then a predicate on y — the z layout must read
    strictly fewer row groups (parquet footer min/max) AND the executed
    Spark scan must decode strictly fewer rows.  A single-column sort
    leaves every file spanning the full y range, so NOTHING skips."""
    rows = [((i * 2531) % 4096 // 64, (i * 2531) % 4096 % 64)
            for i in range(4096)]
    df = spark.createDataFrame(rows, "x long, y long")
    zdir = str(tmp_path / "z")
    xdir = str(tmp_path / "xs")
    zorder_write(df, ["x", "y"], zdir, n_partitions=16)
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
       .write.parquet(xdir))

    pred = "y >= 10 AND y <= 13"
    # footer-stat decision: the z layout leaves most row groups skippable
    zn, ztot = _row_groups_matching(zdir, "y", 10, 13)
    xn, xtot = _row_groups_matching(xdir, "y", 10, 13)
    assert ztot >= 8 and xtot >= 8
    assert xn == xtot                 # x-sorted: zero skipping on y
    assert zn < ztot / 2              # z: most row groups skippable
    # executed-plan decision: Spark's reader actually skips them
    zm = _scan_metrics(spark, zdir, pred)
    xm = _scan_metrics(spark, xdir, pred)
    assert xm["numOutputRows"] == 4096          # decoded everything
    assert zm["numOutputRows"] <= 4096 / 2      # decoded a fraction
    # and both answers agree, obviously
    assert (spark.read.parquet(zdir).filter(pred).count()
            == spark.read.parquet(xdir).filter(pred).count() == 4 * 64)
    # the FIRST column prunes on the z layout too (x-sorted trivially
    # prunes x; z must not have traded x away for y)
    zx, zxt = _row_groups_matching(zdir, "x", 10, 13)
    assert zx < zxt / 2


def test_skipping_manifest_prunes_files_and_preserves_answers(spark, tmp_path):
    """(r12) the file-skipping manifest: zorder_write publishes per-file
    min/max from the parquet FOOTERS; read_pruned consults it BEFORE
    planning (driver-side file-list pruning, zero footer opens on
    skipped files) and must (a) read strictly fewer files than the
    directory holds, (b) return exactly the rows a full scan + filter
    returns, (c) keep files it cannot rule out, (d) stay schema-stable
    when nothing matches."""
    import json
    import os

    from hbase_snapshot_spark.operators.layout import (
        SKIP_MANIFEST_NAME,
        prune_files,
        read_pruned,
    )

    rows = [((i * 2531) % 4096 // 64, (i * 2531) % 4096 % 64, f"p{i}")
            for i in range(4096)]
    df = spark.createDataFrame(rows, "x long, y long, payload string")
    zdir = str(tmp_path / "z")
    zorder_write(df, ["x", "y"], zdir, n_partitions=16)

    man = json.load(open(os.path.join(zdir, SKIP_MANIFEST_NAME)))
    assert man["columns"] == ["x", "y"]
    assert len(man["files"]) >= 8

    bounds = {"y": (10, 13)}
    keep = prune_files(man, bounds)
    assert 0 < len(keep) < len(man["files"])       # (a) strictly pruned

    got = read_pruned(spark, zdir, bounds)
    want = (spark.read.parquet(zdir)
            .filter("y >= 10 AND y <= 13"))
    assert sorted(r.payload for r in got.collect()) == \
           sorted(r.payload for r in want.collect())          # (b)
    assert got.count() == 4 * 64

    # and the scan really touched only the kept files
    leaf = got._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    it = leaf.metrics().iterator()
    mets = {}
    while it.hasNext():
        kv = it.next()
        mets[kv._1()] = kv._2().value()
    assert mets["numFiles"] == len(keep)

    # (c) a file with unknown stats on the bounded column is KEPT
    crippled = json.loads(json.dumps(man))
    some = next(iter(crippled["files"]))
    crippled["files"][some]["y"] = [None, None]
    assert some in prune_files(crippled, bounds)

    # both-sided and one-sided bounds compose
    assert set(prune_files(man, {"x": (None, 3), "y": (10, 13)})) <= set(keep)

    # (d) empty match: schema survives, zero rows
    empty = read_pruned(spark, zdir, {"y": (9999, 10000)})
    assert empty.columns == ["x", "y", "payload"] and empty.count() == 0


def test_skipping_manifest_nan_soundness(spark, tmp_path):
    """(r12 review) parquet footer min/max EXCLUDE NaN while Spark
    orders NaN above every double — a lower-bound-only predicate is
    satisfied by NaN rows the stats cannot see.  prune_files must keep
    float-statted files under hi=None bounds (and read_pruned must
    return the NaN rows a full scan + filter returns); with hi set,
    NaN fails c <= hi on BOTH paths, so pruning stays active."""
    import math
    import os

    from hbase_snapshot_spark.operators.layout import (
        prune_files,
        read_pruned,
        write_skipping_manifest,
    )

    d = str(tmp_path / "nan")
    spark.createDataFrame(
        [(1.0, "a"), (float("nan"), "b")], "c double, p string"
    ).coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [(100.0, "hi")], "c double, p string"
    ).coalesce(1).write.parquet(d, mode="append")
    spark.createDataFrame(
        [(1.0, "lo"), (2.0, "lo2")], "c double, p string"
    ).coalesce(1).write.parquet(d, mode="append")
    man = write_skipping_manifest(d, ["c"])
    assert len(man["files"]) == 3
    # Spark's writer records NaN max (pyarrow's writer EXCLUDES NaN
    # rows from stats) — either way the NaN file's stats must be
    # nulled: unusable for pruning, and NaN is not valid JSON
    assert [None, None] in [st["c"] for st in man["files"].values()]

    # lower-bound-only: the NaN file (null stats) is kept, and the
    # clean float-statted files are ALSO kept (hi=None → NaN rows a
    # convention-following writer hides could satisfy c >= lo)
    assert len(prune_files(man, {"c": (5.0, None)})) == 3
    got = read_pruned(spark, d, {"c": (5.0, None)})
    want = spark.read.parquet(d).filter("c >= 5.0")
    assert sorted(r.p for r in got.collect()) == \
           sorted(r.p for r in want.collect()) == ["b", "hi"]
    assert any(math.isnan(r.c) for r in got.collect())

    # two-sided: NaN fails c <= hi on both paths — float pruning is
    # active again; the clean out-of-range file is pruned, the
    # null-stats NaN file is conservatively kept and the residual
    # filter drops its rows
    kept = prune_files(man, {"c": (5.0, 200.0)})
    assert len(kept) == 2
    got2 = read_pruned(spark, d, {"c": (5.0, 200.0)})
    assert [r.p for r in got2.collect()] == ["hi"]


def _brute_prune(manifest, col, ranges):
    """the obvious O(F·R) definition of the pruning rules: a NaN bound
    keeps every file, null stats and bool stats keep the file, a
    float-statted file is kept when any range has hi=None (NaN
    invisibility), else keep on any overlap"""
    from hbase_snapshot_spark.operators.layout import _decode_stat

    if any(b != b for r in ranges for b in r if b is not None):
        return sorted(manifest["files"])
    open_hi = any(hi is None for _, hi in ranges)
    keep = []
    for fname, stats in manifest["files"].items():
        st = stats.get(col)
        if st is None or st[0] is None or st[1] is None:
            keep.append(fname)
            continue
        smin, smax = _decode_stat(st[0]), _decode_stat(st[1])
        if isinstance(smin, bool) or isinstance(smax, bool) or (
                open_hi and (isinstance(smin, float) or isinstance(smax, float))):
            keep.append(fname)
            continue
        for lo, hi in ranges:
            if (lo is None or smax >= lo) and (hi is None or smin <= hi):
                keep.append(fname)
                break
    return sorted(keep)


def _random_stats(rng):
    kind = rng.random()
    if kind < 0.15:
        return [None, None]
    if kind < 0.2:
        return [False, True]
    if kind < 0.35:
        a = rng.uniform(0, 100)
        return [a, a + rng.uniform(0, 20)]
    a = rng.randrange(0, 1000)
    return [a, a + rng.randrange(0, 100)]


def _random_range(rng):
    lo = None if rng.random() < 0.2 else rng.randrange(0, 1000)
    kind = rng.random()
    if kind < 0.2:
        hi = None
    elif kind < 0.25:
        hi = float("nan")
    elif lo is None:
        hi = rng.randrange(0, 1000)
    else:
        hi = lo + rng.randrange(0, 150)
    return lo, hi


def test_prune_files_ranges_matches_bruteforce():
    """(r13) the interval-stabbing sweep in prune_files_ranges must
    agree with the obvious O(F·R) definition on randomized inputs —
    including None bounds, zero-width (point) ranges, null-stats and
    bool-stats files (always kept), float-statted files (kept when any
    range is open above: NaN invisibility), and hex-encoded bytes stats
    against bytes bounds."""
    import random

    from hbase_snapshot_spark.operators.layout import prune_files_ranges

    rng = random.Random(13)
    for trial in range(200):
        nf, nr = rng.randrange(1, 12), rng.randrange(1, 15)
        files = {f"part-{i}.parquet": {"k": _random_stats(rng)}
                 for i in range(nf)}
        man = {"columns": ["k"], "files": files}
        ranges = [_random_range(rng) for _ in range(nr)]
        assert prune_files_ranges(man, "k", ranges) == _brute_prune(
            man, "k", ranges), (trial, man, ranges)

    # a fully upper-bounded range rules a float-statted file out
    fman = {"columns": ["k"], "files": {"a.parquet": {"k": [1.0, 2.0]},
                                        "b.parquet": {"k": [50.0, 60.0]}}}
    assert prune_files_ranges(fman, "k", [(5.0, 70.0)]) == ["b.parquet"]
    assert prune_files_ranges(fman, "k", [(5.0, 70.0), (80.0, None)]) == [
        "a.parquet", "b.parquet"]

    # bytes stats round-trip through the hex encoding
    man = {"columns": ["k"], "files": {
        "a.parquet": {"k": [{"hex": b"aaa".hex()}, {"hex": b"ccc".hex()}]},
        "b.parquet": {"k": [{"hex": b"mmm".hex()}, {"hex": b"zzz".hex()}]},
    }}
    assert prune_files_ranges(man, "k", [(b"bbb", b"ddd")]) == ["a.parquet"]
    assert prune_files_ranges(man, "k", [(b"x", None)]) == ["b.parquet"]
    assert prune_files_ranges(man, "k", [(None, b"b"), (b"y", b"y0")]) == [
        "a.parquet", "b.parquet"]
    # a str bound against bytes stats cannot be compared: keep both
    assert prune_files_ranges(man, "k", [("bbb", "ddd")]) == [
        "a.parquet", "b.parquet"]


def test_prune_files_ranges_mixed_bound_types_keep_all():
    """(r13 review) bounds of incomparable types across ranges (str
    next to int next to bytes) have no total order — the sweep must
    keep every file, never TypeError out of a scan."""
    from hbase_snapshot_spark.operators.layout import prune_files_ranges

    man = {"columns": ["k"], "files": {
        "a.parquet": {"k": [10, 20]},
        "b.parquet": {"k": [100, 200]},
    }}
    assert prune_files_ranges(man, "k", [("x", "y"), (5, 7)]) == [
        "a.parquet", "b.parquet"]
    assert prune_files_ranges(man, "k", [(b"x", None), (5, 7), (None, "z")]
                              ) == ["a.parquet", "b.parquet"]


def test_prune_bool_and_nan_bounds_never_prune():
    """bool is an int subclass, so Python compares it with ints; a
    bool bound or a bool-statted file must still never prune. A NaN
    bound has no order against the other ranges and Spark's
    ``c <= NaN`` holds for every non-null row, so it keeps every file."""
    from hbase_snapshot_spark.operators.layout import (
        prune_files,
        prune_files_ranges,
    )

    man = {"columns": ["k"], "files": {
        "a.parquet": {"k": [10, 20]},
        "b.parquet": {"k": [100, 200]},
        "c.parquet": {"k": [False, True]},
    }}
    every = ["a.parquet", "b.parquet", "c.parquet"]
    assert prune_files_ranges(man, "k", [(True, True)]) == every
    assert prune_files_ranges(man, "k", [(5, 7), (None, False)]) == every
    assert prune_files(man, {"k": (False, None)}) == every
    assert prune_files(man, {"k": (150, 160)}) == ["b.parquet", "c.parquet"]
    nan = float("nan")
    fman = {"columns": ["k"], "files": {"a.parquet": {"k": [1.0, 2.0]},
                                        "b.parquet": {"k": [50.0, 60.0]}}}
    assert prune_files(fman, {"k": (None, nan)}) == ["a.parquet", "b.parquet"]
    assert prune_files(fman, {"k": (nan, 70.0)}) == ["a.parquet", "b.parquet"]
    assert prune_files_ranges(fman, "k", [(5.0, 70.0), (nan, 1.5)]) == [
        "a.parquet", "b.parquet"]


def test_read_pruned_nan_bound_matches_full_scan(spark, tmp_path):
    """read_pruned under a NaN upper bound returns what the full scan +
    filter returns: every non-null row, since Spark orders NaN above
    every double."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hbase_snapshot_spark.operators.layout import (
        read_pruned,
        write_skipping_manifest,
    )

    d = tmp_path / "nanbound"
    d.mkdir()
    for i, vals in enumerate(([1.0, 2.0], [50.0, 60.0])):
        pq.write_table(pa.table({"c": vals}), str(d / f"part-{i}.parquet"))
    write_skipping_manifest(str(d), ["c"])
    got = read_pruned(spark, str(d), {"c": (None, float("nan"))})
    want = spark.read.parquet(str(d)).filter(F.col("c") <= float("nan"))
    assert sorted(r.c for r in got.collect()) == \
           sorted(r.c for r in want.collect()) == [1.0, 2.0, 50.0, 60.0]


def test_prune_files_is_the_per_column_intersection():
    """prune_files(m, bounds) keeps exactly the files every bounded
    column's brute-force definition keeps."""
    import random

    from hbase_snapshot_spark.operators.layout import prune_files

    rng = random.Random(7)
    for trial in range(200):
        files = {f"part-{i}.parquet": {c: _random_stats(rng) for c in "ab"}
                 for i in range(rng.randrange(1, 12))}
        man = {"columns": ["a", "b"], "files": files}
        bounds = {c: _random_range(rng) for c in "ab" if rng.random() < 0.7}
        want = set(files)
        for col, rng_ in bounds.items():
            want &= set(_brute_prune(man, col, [rng_]))
        assert prune_files(man, bounds) == sorted(want), (trial, man, bounds)


def test_zorder_single_pass_one_rank_exchange(spark):
    """r15 (VERDICT r14 Next #5): the k per-column rank passes
    collapsed into ONE melted pass — the lazy layout plan must carry
    exactly TWO range exchanges (the ranked-keys exchange + the final
    z repartitionByRange), not k+1."""
    import io
    from contextlib import redirect_stdout

    df = spark.createDataFrame(
        [((i * 7) % 50, (i * 13) % 50) for i in range(500)],
        "x long, y long")
    out = zorder_layout(df, ["x", "y"], n_partitions=4)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("rangepartitioning") == 2, plan
    spark.catalog.clearCache()
