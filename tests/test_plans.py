"""Physical-plan regression tests — pin the scale-critical plan
properties so they can't silently regress:

  1. the resolve kernel is a ONE-exchange plan (all masking windows +
     version counting share the (row, family) hash partitioning),
  2. row-range predicates reach the parquet scan (PushedFilters),
  3. column projection prunes the read schema,
  4. version counting gets Spark's WindowGroupLimit top-k pruning.
"""

import io
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

from hbase_snapshot_spark.resolve import ResolveSpec, resolve
from tests.cells import cells_df, put


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "cells")
    cells_df(spark, [
        put(f"r{i:04d}", "f", f"q{i % 3}", 10 + (i % 4), f"v{i}")
        for i in range(500)
    ]).write.parquet(path)
    return spark.read.parquet(path)


def test_resolve_is_single_exchange(stored):
    plan = plan_of(resolve(stored, spec=ResolveSpec(max_versions=3)), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_row_range_pushed_to_parquet(stored):
    df = resolve(
        stored.filter((F.col("row") >= "r0100") & (F.col("row") < "r0200")),
        spec=ResolveSpec(max_versions=1),
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(row" in pushed and "LessThan(row" in pushed, pushed


def test_projection_prunes_read_schema(stored):
    plan = plan_of(stored.select("row", "ts").filter(F.col("row") > "r0"))
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "struct<row:string,ts:bigint>" in rs, rs


def test_version_count_gets_window_group_limit(stored):
    plan = plan_of(resolve(stored, spec=ResolveSpec(max_versions=2)), "simple")
    assert "WindowGroupLimit" in plan, plan


def test_scvf_single_aggregation(spark, stored):
    # the SCVF row set is ONE groupBy over the stream — no extra
    # distinct/anti-join cascade (counted as at most 2 more exchanges:
    # the row-agg and the semi-join)
    from hbase_snapshot_spark.client import Scan, Table
    from hbase_snapshot_spark.filters import CompareOp, SingleColumnValueFilter

    t = Table(stored)
    df = t.scan(Scan(filter=SingleColumnValueFilter("f", "q0", CompareOp.EQUAL, "v0")))
    plan = plan_of(df, "simple")
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    # two cell tables bucketed on row by the same bucket count join
    # bucket-to-bucket: the join subtree contains NO Exchange
    from hbase_snapshot_spark.sources.bucketed import read_bucketed, save_bucketed

    base = tmp_path_factory.mktemp("bucketed")
    a = cells_df(spark, [put(f"r{i}", "f", "q", 10, f"a{i}") for i in range(100)])
    b = cells_df(spark, [put(f"r{i}", "g", "q", 10, f"b{i}") for i in range(100)])
    try:
        save_bucketed(a, "bkt_a", buckets=4, path=str(base / "a"))
        save_bucketed(b, "bkt_b", buckets=4, path=str(base / "b"))
        # hint('merge') disables the broadcast path so the plan shows the
        # bucket-to-bucket sort-merge join a large-table join would use
        joined = read_bucketed(spark, "bkt_a").hint("merge").join(
            read_bucketed(spark, "bkt_b"), on="row"
        )
        plan = plan_of(joined, "simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_pack_sequences_single_exchange(spark):
    # packing = ONE hash exchange on the group key; the cumulative-sum
    # window and the floor projection run inside the same partitioning
    from hbase_snapshot_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(f"d{i}", "en" if i % 2 else "de", 100 + i) for i in range(200)],
        ["doc_id", "lang", "n_tokens"],
    )
    plan = plan_of(pack_sequences(df, "n_tokens", cap=512, by="lang"), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_scrub_pii_no_shuffle(spark):
    # scrubbing is pure per-row Column work — no Exchange at all
    from hbase_snapshot_spark.operators.text import scrub_pii

    df = spark.createDataFrame([("d1", "text")], ["doc_id", "text"])
    plan = plan_of(scrub_pii(df), "simple")
    assert "Exchange" not in plan, plan


def test_quantize_no_shuffle(spark):
    from hbase_snapshot_spark.operators.embeddings import quantize_embeddings

    df = spark.createDataFrame([(1, [0.5, -0.5])], ["vec_id", "embedding"])
    plan = plan_of(quantize_embeddings(df), "simple")
    assert "Exchange" not in plan, plan


def test_tfidf_single_pass_three_exchanges(spark):
    # one explode+agg pass; doc-frequency is a count-window over term
    # (a join back to a tf-derived aggregate would recompute the whole
    # explode subtree): exchanges = tf agg + term window + topk window
    from hbase_snapshot_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(f"d{i}", f"w{i % 7} common w{i % 11}") for i in range(50)],
        ["doc_id", "text"],
    )
    plan = plan_of(tfidf_top_terms(df, k=3), "simple")
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert plan.count("Generate explode") == 1, plan


def test_ann_bucket_joins_are_hash_joins(spark):
    # the ANN corpus-side joins must be bucket equi-joins (broadcast
    # hash), never a cartesian over the corpus; the only nested-loop
    # allowed is the tiny broadcast query/centroid cross-score
    from hbase_snapshot_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    queries = vecs.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")

    lsh = similarity.ann_lsh_topk(vecs, queries, k=3, num_planes=4, dim=8)
    plan = plan_of(lsh, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    ivf = similarity.ivf_topk(vecs, queries, k=3, num_centroids=4, nprobe=2)
    plan = plan_of(ivf, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_while_match_stream_is_persisted(spark, stored):
    # the cell-level WhileMatch cut consumes the masked stream twice
    # (first-failing-cell aggregate + the cut join); the scan pipeline
    # must persist the stream so the mask shuffle runs once
    from hbase_snapshot_spark.client import Scan, Table
    from hbase_snapshot_spark.filters import (
        BinaryComparator,
        CompareOp,
        ValueFilter,
        WhileMatchFilter,
    )

    t = Table(stored)
    df = t.scan(Scan(filter=WhileMatchFilter(
        ValueFilter(CompareOp.NOT_EQUAL, BinaryComparator("v250"))
    )))
    plan = plan_of(df, "simple")
    assert "InMemoryTableScan" in plan, plan


def test_random_seek_scan_plan_shape(spark, stored):
    # a batch of seek scans: the seek dim must reach the cells via a
    # broadcast HASH join on the row-key block (never a nested-loop or
    # cartesian — a banded BNLJ evaluates every seek's band against
    # every cell), and the per-seek rank<=100 cap must get Spark's
    # WindowGroupLimit pruning so partial limits run before the shuffle
    from pyspark.sql import Window

    seek_df = spark.createDataFrame(
        [(i, f"r{i * 37 % 400:04d}", f"r{i * 37 % 400 + 3:04d}", (i * 37 % 400) // 100)
         for i in range(20)],
        "seek_id INT, start STRING, stop STRING, blk LONG",
    )
    rows = resolve(stored, spec=ResolveSpec(max_versions=1)).withColumn(
        "blk", F.floor(F.substring("row", 2, 4).cast("long") / 100)
    )
    joined = rows.join(F.broadcast(seek_df), on="blk").filter(
        (F.col("row") >= F.col("start")) & (F.col("row") < F.col("stop"))
    )
    w = Window.partitionBy("seek_id").orderBy("row")
    out = joined.withColumn("rk", F.dense_rank().over(w)).filter(F.col("rk") <= 100)
    plan = plan_of(out, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_sequential_read_no_global_sort(spark, stored):
    # a sequential read: whole-table row-order materialization must
    # be range-partition + LOCAL sorts (scale path) — any single-node
    # global sort is a regression
    rows = resolve(stored, spec=ResolveSpec(max_versions=1))
    ordered = rows.repartitionByRange(4, "row").sortWithinPartitions(
        "row", "family", "qualifier"
    )
    plan = plan_of(ordered, "simple")
    assert "rangepartitioning" in plan, plan
    # Spark renders Sort as "Sort [cols], <global>, 0" — a global sort
    # would print "], true, 0"
    assert "], true, 0" not in plan, plan


def test_scan_cache_released_on_manifest_swap(spark, tmp_path):
    """multi-use filter scans persist their masked stream; the owning
    table's next manifest swap (compact/mutate) must free those blocks
    instead of leaving them to rot in the storage pool (VERDICT r4)."""
    from hbase_snapshot_spark.client import Scan
    from hbase_snapshot_spark.filters import (
        BinaryComparator, CompareOp, SkipFilter, ValueFilter,
    )
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.plans import scan_exec
    from hbase_snapshot_spark.table import Put, TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("cachet").add_family(FamilyDescriptor("f"))
    )
    t.mutate([Put(f"r{i}").add("f", "q", f"v{i}") for i in range(20)])

    # SkipFilter compiles to a row_drop hook -> multi-use -> persist
    flt = SkipFilter(ValueFilter(CompareOp.NOT_EQUAL, BinaryComparator("v3")))
    out = t.client().scan(Scan(filter=flt))
    assert out.count() == 19
    handles = scan_exec._PERSISTED.get(t.dir)
    assert handles, "multi-use scan should register a persisted handle"
    assert all(h.storageLevel.useMemory or h.storageLevel.useDisk
               for h in handles)

    t.compact(major=True)
    assert t.dir not in scan_exec._PERSISTED
    assert all(not (h.storageLevel.useMemory or h.storageLevel.useDisk)
               for h in handles), "blocks must be freed on manifest swap"

    # and the pre-swap DataFrame still computes (plan recomputes from
    # the pre-vacuum segment files)
    assert out.count() == 19


def test_scan_cache_serves_later_reads_of_the_version(spark, tmp_path):
    """A multi-use filter scan's persisted masked stream also serves
    later whole-table reads of the same table version: the CacheManager
    substitutes it into any plan holding the same masked stream.  This
    is where the registry pays on batch work (a view or diff read after
    a filter scan); the next manifest swap releases it."""
    from hbase_snapshot_spark.client import Scan
    from hbase_snapshot_spark.filters import (
        BinaryComparator, CompareOp, SkipFilter, ValueFilter,
    )
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.table import Put, TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("reuset").add_family(FamilyDescriptor("f")))
    t.mutate([Put(f"r{i}").add("f", "q", f"v{i}") for i in range(20)])
    assert "InMemoryTableScan" not in plan_of(t.read(), "simple")

    flt = SkipFilter(ValueFilter(CompareOp.NOT_EQUAL, BinaryComparator("v3")))
    assert t.client().scan(Scan(filter=flt)).count() == 19
    assert "InMemoryTableScan" in plan_of(t.read(), "simple")

    t.mutate([Put("r0").add("f", "q", "w0")])
    assert "InMemoryTableScan" not in plan_of(t.read(), "simple")


def test_melt_input_partitions_spread(spark):
    """bulk_write's melt must not run single-core when the source is
    one row group (BASELINE §G): input_partitions spreads the scan
    BEFORE the explode, so the melt stage parallelizes."""
    from hbase_snapshot_spark.parity import encode_orders_cells

    sf = "/root/testdata/sf0.001"
    assert encode_orders_cells(spark, sf).rdd.getNumPartitions() == 1
    spread = encode_orders_cells(spark, sf, input_partitions=8)
    assert spread.rdd.getNumPartitions() == 8
    # identical cell stream either way
    plain = encode_orders_cells(spark, sf)
    assert spread.exceptAll(plain).count() == 0
    assert plain.exceptAll(spread).count() == 0


def test_duplicated_spans_plan_shape(spark, tmp_path):
    # ExactSubstr (dedup.duplicated_spans): the >=2-frequency hash set
    # reaches the gram stream as an EQUI-join on the gram hash — one
    # row per duplicated hash, never a pair materialization or a
    # cartesian.  Over a stats-bearing parquet source Catalyst picks
    # BroadcastHashJoin (the sf0.1 shape); over stat-less sources the
    # SortMergeJoin fallback is the correct 100 TB plan (a huge
    # dup-hash set must not be forced through a broadcast).
    from hbase_snapshot_spark.operators import dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "tok " * 40) for i in range(50)], ["doc_id", "text"]
    ).write.parquet(path)
    plan = plan_of(dedup.duplicated_spans(spark.read.parquet(path), k=8),
                   "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    # span assembly (r11 coverage-union islands): two window passes —
    # lag(pos) for the new-island flag, then the running island sum —
    # BOTH per-doc (partitioned by id, one exchange, never
    # SinglePartition over data)
    assert plan.count("Window") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning(id") == 1, plan


def test_delta_dedup_prunes_corpus_with_semi_join(spark):
    # delta_dedup_pairs: the standing corpus's shingle fetch must be
    # pruned by a (left-)semi join on the candidate ids BEFORE the
    # jaccard verification — the corpus is never scanned beyond the
    # matched documents
    from hbase_snapshot_spark.operators import dedup

    corpus = dedup.with_shingles(spark.createDataFrame(
        [(i, f"w{i} " * 20) for i in range(40)], ["doc_id", "text"]), n=3)
    batch = dedup.with_shingles(spark.createDataFrame(
        [(1000 + i, f"w{i} " * 20) for i in range(5)], ["doc_id", "text"]),
        n=3)
    index = dedup.minhash_index(corpus)
    plan = plan_of(
        dedup.delta_dedup_pairs(batch, index, corpus, threshold=0.5),
        "simple")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_url_key_stays_jvm_side(spark):
    """the bulk URL-keying expression (functions.url_key) must compile
    to pure Catalyst expressions — no BatchEvalPython / Python UDF in
    the plan, so corpus-scale keying stays inside whole-stage codegen."""
    from pyspark.sql import functions as F

    from hbase_snapshot_spark.functions import url_key

    df = spark.createDataFrame(
        [("http://one.two.three/index.html",)], ["url"]
    ).select(url_key(F.col("url")).alias("key"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_rfm_scores_no_single_task_window(spark):
    """rfm_scores (VERDICT r9 #1, persist discipline r11): the quantile
    scoring must never run a data-sized single-task shape — no
    unpartitioned Window, no Exchange SinglePartition, no global Sort
    anywhere in the executed plan.  Consistency and single-scan are now
    carried by CACHES (a contract), not ReuseExchange (an optimizer
    heuristic broken by external pruning / config — see ranks.py): the
    bucket counts and ranked rows read one persisted range exchange,
    the melt branch and payload join read one persisted per_user."""
    from hbase_snapshot_spark.operators.asof import rfm_scores

    ev = spark.createDataFrame(
        [(i % 37, (i * 131) % 10_000_000_000, float(i % 11))
         for i in range(500)],
        "user_id long, ts long, value double")
    df = rfm_scores(ev)
    df.collect()  # executed (AQE-final) plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert "SinglePartition" not in final, final
    # a global sort prints "Sort [...], true, 0"
    assert "], true, 0" not in final, final
    # both pid consumers + the melt + the payload join read caches:
    # the top-level plan contains InMemoryTableScans and NO source
    # scan — the events scan ran exactly once, inside the per_user
    # cache's materialization.  Counted on the FULL plan string: under
    # AQE the final-plan section prints materialized stages as bare
    # QueryStage references, so at data scale only the last stage's
    # cache scan survives in `final`.  (executedPlan().toString()
    # prints each cache's MATERIALIZATION plan inline under its
    # InMemoryRelation node, so strip those subtrees before counting
    # source scans.)
    assert plan.count("InMemoryTableScan") >= 3, plan
    import re
    top = _strip_cached_subtrees(final)
    scans = re.findall(r"Scan ExistingRDD|FileScan", top)
    assert len(scans) == 0, top


def _strip_cached_subtrees(plan: str) -> str:
    """Drop every InMemoryRelation node and its nested cached-plan
    printout (deeper-indented lines), leaving only operators THIS
    query's execution actually runs.  ``executedPlan().toString()``
    prints each cache's MATERIALIZATION plan inline under its
    InMemoryRelation node; counting source scans without stripping
    those subtrees double-counts work the cache already paid for."""
    out, skip_indent = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-*()0123456789"))
        if skip_indent is not None:
            if indent > skip_indent or not line.strip():
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def test_rfm_scores_correct_without_exchange_reuse(spark):
    """The ADVICE r10 scenario made concrete: with
    spark.sql.exchange.reuse DISABLED, the pre-persist formulation ran
    the range exchange twice with independent range sampling — bucket
    ids diverged between the two spark_partition_id consumers and
    scores went silently wrong.  The persisted formulation must give
    bit-identical scores with reuse on or off."""
    from hbase_snapshot_spark.operators.asof import rfm_scores

    ev = spark.createDataFrame(
        [(i % 53, (i * 997) % 10_000_000_000, float(i % 17))
         for i in range(4000)],
        "user_id long, ts long, value double")
    want = sorted(map(tuple, rfm_scores(ev).collect()))
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        got = sorted(map(tuple, rfm_scores(ev).collect()))
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    assert got == want


def test_rfm_scores_matches_ntile_reference(spark):
    """bit-parity with the literal three-ntile-window formulation the
    r9 code ran (and the DuckDB oracle still runs), including
    duplicate metric values and N < buckets."""
    from pyspark.sql import Window

    from hbase_snapshot_spark.operators.asof import rfm_scores

    ev = spark.createDataFrame(
        [(i % 29, (i * 1_000_000_007) % 86_400_000_000_000,
          float((i % 13)) / 7) for i in range(3000)],
        "user_id long, ts long, value double")
    for sub in (ev, ev.filter(F.col("user_id") < 3)):  # incl. N<buckets
        per_user = sub.groupBy(F.col("user_id").alias("user")).agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("monetary"))
        ref = per_user.select(
            "user", "last_ts", "frequency",
            F.col("monetary").cast("double").alias("monetary"),
            F.ntile(5).over(Window.orderBy(
                F.col("last_ts").asc(), F.col("user").asc())).alias("r_score"),
            F.ntile(5).over(Window.orderBy(
                F.col("frequency").asc(), F.col("user").asc())).alias("f_score"),
            F.ntile(5).over(Window.orderBy(
                F.col("monetary").asc(), F.col("user").asc())).alias("m_score"))
        got = rfm_scores(sub)
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0


def test_global_ranks_plan_shape(spark):
    """global_ranks (r10): the distributed ORDER-BY-rank primitive must
    keep every data-sized stage partitioned.  The ONE permitted
    Exchange SinglePartition is the bucket-offsets window whose input
    is the per-range-partition count summary (≤ range_partitions rows,
    metadata-sized regardless of data volume) — assert it sits directly
    above the _pid-keyed count aggregate and nowhere else; no global
    sort; both consumers read the ONE persisted range exchange."""
    import re

    from hbase_snapshot_spark.operators.ranks import global_ranks

    base = spark.createDataFrame(
        [((i * 131) % 37, i) for i in range(2000)], "v long, k long")
    df = global_ranks(base, ["v", "k"], buckets=10, percent=True)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert "], true, 0" not in final, final  # no global sort
    # the load-bearing persist: BOTH consumers (bucket counts + ranked
    # rows) must read the one materialized range exchange — two
    # InMemoryTableScans over the same cache, so bucket ids can never
    # diverge between them (the pre-persist design relied on
    # ReuseExchange, which external column pruning silently broke)
    assert final.count("InMemoryTableScan") >= 2, final
    lines = final.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        below = "\n".join(lines[i + 1:i + 4])
        assert "HashAggregate(keys=[_pid" in below, (line, below)


def test_global_ranks_matches_window_reference(spark):
    """bit parity with the unpartitioned-window formulation for
    row_number/ntile/percent_rank/cume_dist, incl. duplicate order
    values (unique tie-break column) and N < buckets / N == 1."""
    from pyspark.sql import Window

    from hbase_snapshot_spark.operators.ranks import global_ranks

    base = spark.createDataFrame(
        [((i * 131) % 37, i) for i in range(3000)], "v long, k long")
    for sub in (base, base.filter(F.col("k") < 7), base.limit(1)):
        w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
        ref = sub.select(
            "v", "k",
            F.row_number().over(w).cast("long").alias("rank"),
            F.ntile(10).over(w).cast("long").alias("ntile"),
            F.percent_rank().over(w).alias("percent_rank"),
            F.cume_dist().over(w).alias("cume_dist"))
        got = global_ranks(sub, ["v", "k"], buckets=10, percent=True)
        got = got.select("v", "k", F.col("rank").cast("long"),
                         F.col("ntile").cast("long"),
                         "percent_rank", "cume_dist")
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0


def test_global_ranks_cross_parallelism_and_nulls(spark):
    """ranks must be a pure function of the DATA: identical results
    from a 1-partition and a 32-partition layout of the same rows
    (range boundaries may differ — the offsets adapt), and NULL order
    values take the asc-nulls-first ranks Spark's own window assigns."""
    from pyspark.sql import Window

    from hbase_snapshot_spark.operators.ranks import global_ranks

    rows = [((i * 131) % 37 if i % 11 else None, i) for i in range(800)]
    one = spark.createDataFrame(rows, "v long, k long").coalesce(1)
    many = spark.createDataFrame(rows, "v long, k long").repartition(32)
    a = global_ranks(one, ["v", "k"], buckets=5, percent=True)
    b = global_ranks(many, ["v", "k"], buckets=5, percent=True)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
    ref = one.select("v", "k",
                     F.row_number().over(w).cast("long").alias("rank"))
    got = a.select("v", "k", F.col("rank").cast("long"))
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_global_ranks_tie_aware_matches_window(spark):
    """(r11, VERDICT #5) ties='rank'/'dense': bit-parity with Spark's
    unpartitioned rank()/dense_rank()/percent_rank()/cume_dist() over
    an order with HEAVY duplicates (37 distinct values over 2000 rows)
    and nulls, across 1-partition and 32-partition layouts — and with
    exchange reuse disabled, since the tie path carries its pid
    consistency by persist like the row path."""
    from pyspark.sql import Window

    from hbase_snapshot_spark.operators.ranks import global_ranks

    rows = [((i * 131) % 37 if i % 13 else None, i) for i in range(2000)]
    base = spark.createDataFrame(rows, "v long, id long")
    w = Window.orderBy(F.col("v").asc())
    ref = base.select(
        "v", "id",
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("dr"),
        F.percent_rank().over(w).alias("percent_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    ).collect()
    want_rank = {r.id: (r.rk, r.percent_rank, r.cume_dist) for r in ref}
    want_dense = {r.id: r.dr for r in ref}
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        for layout in (base.coalesce(1), base.repartition(32)):
            got_r = global_ranks(layout, ["v"], ties="rank",
                                 percent=True).collect()
            assert {r.id: (r.rank, r.percent_rank, r.cume_dist)
                    for r in got_r} == want_rank
            got_d = global_ranks(layout, ["v"], rank_col="dr",
                                 ties="dense").collect()
            assert {r.id: r.dr for r in got_d} == want_dense
            # dense_col: BOTH tie columns from one pass (one distinct
            # aggregation, one persisted exchange, one fan-back join)
            got_b = global_ranks(layout, ["v"], ties="rank",
                                 percent=True, dense_col="dr").collect()
            assert {r.id: (r.rank, r.percent_rank, r.cume_dist)
                    for r in got_b} == want_rank
            assert {r.id: r.dr for r in got_b} == want_dense
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    # guard rails: ntile needs a total order; unknown ties rejected;
    # dense_col is a tie-path feature and must not collide
    import pytest
    with pytest.raises(ValueError, match="ties='row'"):
        global_ranks(base, ["v"], buckets=4, ties="rank")
    with pytest.raises(ValueError, match="ties must be"):
        global_ranks(base, ["v"], ties="first")
    with pytest.raises(ValueError, match="dense_col requires"):
        global_ranks(base, ["v", "id"], dense_col="dr")
    with pytest.raises(ValueError, match="differ from rank_col"):
        global_ranks(base, ["v"], ties="rank", dense_col="rank")


def test_global_ranks_descending_and_mixed_order(spark):
    """(r11) ascending=False / per-column direction lists: bit-parity
    with Spark's window functions over ``ORDER BY v DESC, k ASC`` and
    all-desc orders, for the row path (row_number + ntile + percent)
    AND the tie path (rank/dense_rank under duplicates), nulls
    included (Spark desc ranks nulls LAST)."""
    from pyspark.sql import Window

    from hbase_snapshot_spark.operators.ranks import global_ranks

    rows = [((i * 131) % 37 if i % 11 else None, i) for i in range(1200)]
    base = spark.createDataFrame(rows, "v long, k long")

    # row path, mixed directions (total order via the k tie-break)
    w = Window.orderBy(F.col("v").desc(), F.col("k").asc())
    ref = {r.k: (r.rn, r.nt, r.pr) for r in base.select(
        "k",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(7).over(w).cast("long").alias("nt"),
        F.percent_rank().over(w).alias("pr")).collect()}
    got = {r.k: (r.rank, r.ntile, r.percent_rank) for r in global_ranks(
        base, ["v", "k"], buckets=7, percent=True,
        ascending=[False, True]).collect()}
    assert got == ref

    # tie path, all-desc over the duplicate-heavy column
    wd = Window.orderBy(F.col("v").desc())
    ref_t = {r.k: (r.rk, r.dr) for r in base.select(
        "k",
        F.rank().over(wd).cast("long").alias("rk"),
        F.dense_rank().over(wd).cast("long").alias("dr")).collect()}
    got_rk = {r.k: r.rank for r in global_ranks(
        base, ["v"], ties="rank", ascending=False).collect()}
    got_dr = {r.k: r.dr for r in global_ranks(
        base, ["v"], rank_col="dr", ties="dense",
        ascending=False).collect()}
    assert {k: (got_rk[k], got_dr[k]) for k in got_rk} == ref_t

    # malformed direction list rejected loudly
    import pytest
    with pytest.raises(ValueError, match="ascending"):
        global_ranks(base, ["v", "k"], ascending=[True])


def test_global_ranks_tie_aware_total_order_degenerates_to_row(spark):
    """Under a TOTAL order (no duplicate keys) rank == dense_rank ==
    row_number, so the three modes must agree exactly — the tie path's
    weighted machinery collapses to the row path's counts."""
    from hbase_snapshot_spark.operators.ranks import global_ranks

    base = spark.createDataFrame(
        [((i * 977) % 4099, i) for i in range(1500)], "v long, id long")
    row = {r.id: r.rank for r in
           global_ranks(base, ["v", "id"], ties="row").collect()}
    rk = {r.id: r.rank for r in
          global_ranks(base, ["v", "id"], ties="rank").collect()}
    dr = {r.id: r.rank for r in
          global_ranks(base, ["v", "id"], ties="dense").collect()}
    assert row == rk == dr


def test_rank_cache_scope_releases_caches(spark):
    """(r11, VERDICT #6) the load-bearing persists of global_ranks /
    rfm_scores never self-unpersist (consumers are lazy), so a
    long-lived session ranking many tables accumulates caches —
    rank_cache_scope bounds that: results consumed inside the scope
    are correct, and every cache registered in the scope is released
    on exit.  Scopes nest; an outer scope keeps its caches while an
    inner one releases."""
    from pyspark.sql import Window

    from hbase_snapshot_spark.operators.asof import rfm_scores
    from hbase_snapshot_spark.operators.ranks import (
        global_ranks,
        rank_cache_scope,
    )

    base = spark.createDataFrame(
        [((i * 131) % 37, i) for i in range(600)], "v long, k long")
    ev = spark.createDataFrame(
        [(i % 19, (i * 131) % 10_000_000_000, float(i % 7))
         for i in range(400)],
        "user_id long, ts long, value double")

    with rank_cache_scope() as outer:
        outer_ranked = global_ranks(base, ["v", "k"])
        outer_rows = outer_ranked.collect()
        with rank_cache_scope() as inner:
            got = global_ranks(base, ["v", "k"]).collect()
            rfm = rfm_scores(ev).collect()
            assert len(rfm) == 19
            assert len(inner) == 3          # 1 ranks + 2 rfm persists
            assert all(d.is_cached for d in inner)
        assert all(not d.is_cached for d in inner)   # inner released
        assert len(outer) == 1 and outer[0].is_cached  # outer survives
    assert not outer[0].is_cached
    # scopes are per-thread: a sibling thread's rank call must not
    # register with (or be unpersisted by) this thread's scope
    import threading

    from hbase_snapshot_spark.operators.ranks import _scope_stack

    thread_caches = []

    def other_thread():
        thread_caches.append(global_ranks(base, ["v", "k"]))
        thread_caches[0].collect()

    with rank_cache_scope() as mine:
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
        assert mine == []              # nothing leaked across threads
    assert _scope_stack() == []        # this thread's stack drained
    # the sibling thread's cache was never scoped — release explicitly
    spark.catalog.clearCache()
    # correctness inside the scope matches the window reference
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
    ref = {(r.v, r.k): i + 1
           for i, r in enumerate(base.select("v", "k").orderBy(
               F.col("v").asc(), F.col("k").asc()).collect())}
    assert {(r.v, r.k): r.rank for r in got} == ref
    assert {(r.v, r.k): r.rank for r in outer_rows} == ref


def test_global_ranks_degenerate_inputs(spark):
    """(r11) rank machinery edges: empty input → empty output with the
    rank columns present; a single row ranks 1 with percent_rank 0 and
    cume_dist 1; an all-NULL order column still totals via the
    tie-break (row path) and forms ONE tie group (tie path)."""
    from hbase_snapshot_spark.operators.ranks import global_ranks

    empty = spark.createDataFrame([], "v long, k long")
    out = global_ranks(empty, ["v", "k"], buckets=3, percent=True)
    assert out.count() == 0
    assert {"rank", "ntile", "percent_rank", "cume_dist"} <= set(out.columns)
    assert global_ranks(empty, ["v"], ties="rank").count() == 0

    one = spark.createDataFrame([(5, 1)], "v long, k long")
    r = global_ranks(one, ["v", "k"], buckets=3, percent=True).collect()[0]
    assert (r.rank, r.ntile, r.percent_rank, r.cume_dist) == (1, 1, 0.0, 1.0)
    rt = global_ranks(one, ["v"], ties="rank", percent=True).collect()[0]
    assert (rt.rank, rt.percent_rank, rt.cume_dist) == (1, 0.0, 1.0)

    nulls = spark.createDataFrame(
        [(None, i) for i in range(40)], "v long, k long")
    got = {r.k: r.rank for r in
           global_ranks(nulls, ["v", "k"]).collect()}
    assert got == {i: i + 1 for i in range(40)}   # tie-break totalizes
    tie = global_ranks(nulls, ["v"], ties="rank", percent=True).collect()
    assert {r.rank for r in tie} == {1}           # one NULL tie group
    assert {r.cume_dist for r in tie} == {1.0}
    dr = global_ranks(nulls, ["v"], ties="dense").collect()
    assert {r.rank for r in dr} == {1}


def test_ntile_closed_form_exhaustive():
    """The closed-form ntile used by global_ranks/rfm_scores, proven
    against the SQL definition for EVERY (N, buckets) in a dense grid
    (the Spark differentials sample N; this pins the arithmetic
    itself): the first N % b tiles take ceil(N/b) rows, the rest
    floor(N/b) — no Spark needed, the formula is pure integers."""
    def closed_form(rn, n, b):
        q, r = n // b, n % b
        cut = r * (q + 1)
        if rn <= cut:
            return (rn - 1) // (q + 1) + 1
        return r + (rn - cut - 1) // max(q, 1) + 1

    for n in range(1, 401):
        for b in (1, 2, 3, 4, 5, 7, 10, 16, 17, 100, 400, 401):
            q, r = n // b, n % b
            sizes = [q + 1] * r + [q] * (b - r)
            want = []
            for tile, size in enumerate(sizes, start=1):
                want.extend([tile] * size)
            got = [closed_form(rn, n, b) for rn in range(1, n + 1)]
            assert got == want, (n, b)


def test_quantile_rank_selection_bounds():
    """The lower-quantile index floor(p*(n-1))+1 used by the quantile
    sketch stays in [1, n] for every p in [0, 1] and hits the exact
    endpoints — over a dense p grid including the float-boundary
    cases (p*(n-1) landing exactly on integers)."""
    import math

    for n in range(1, 300):
        for num in range(0, 101):
            p = num / 100.0
            idx = math.floor(p * (n - 1)) + 1
            assert 1 <= idx <= n, (n, p, idx)
        assert math.floor(0.0 * (n - 1)) + 1 == 1
        assert math.floor(1.0 * (n - 1)) + 1 == n


def test_ownerless_scan_cache_registry_is_bounded(spark, tmp_path):
    """(r12, VERDICT) a long-lived wire server doing bare-DataFrame
    scans never calls release_caches(None) — the ownerless bucket must
    LRU-bound ITSELF: oldest handles unpersist on overflow (safe — the
    lazy plan recomputes from segment files), registry size never
    exceeds OWNERLESS_CACHE_CAP, and evicted results still compute."""
    from hbase_snapshot_spark.client import Scan
    from hbase_snapshot_spark.filters import (
        BinaryComparator, CompareOp, SkipFilter, ValueFilter,
    )
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.plans import scan_exec
    from hbase_snapshot_spark.table import Put, TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("boundt").add_family(FamilyDescriptor("f")))
    t.mutate([Put(f"r{i}").add("f", "q", f"v{i}") for i in range(10)])
    cells = t.cells()

    scan_exec.release_caches(None)          # isolate from other tests
    old_cap = scan_exec.OWNERLESS_CACHE_CAP
    scan_exec.OWNERLESS_CACHE_CAP = 5
    try:
        outs = []
        for i in range(12):                 # the "long session"
            flt = SkipFilter(ValueFilter(
                CompareOp.NOT_EQUAL, BinaryComparator(f"v{i % 10}")))
            # bare run_scan: no table lifecycle, no cache owner.  Each
            # scan gets a DISTINCT stop_row (still past every key) so
            # the persisted plans differ — the CacheManager dedupes
            # identical plans into ONE shared entry, which would make
            # this test measure plan-sharing instead of the LRU cap
            outs.append(scan_exec.run_scan(
                cells, Scan(stop_row=f"r9\xff{i:02d}", filter=flt)))
            outs[-1].count()
            assert len(scan_exec._PERSISTED.get(None, [])) <= 5
        bucket = scan_exec._PERSISTED.get(None, [])
        assert len(bucket) == 5             # capped, not merely trimmed once
        # survivors are still cached; earlier handles were unpersisted
        assert all(h.storageLevel.useMemory or h.storageLevel.useDisk
                   for h in bucket)
        # evicted scans still produce correct results (plan recomputes)
        assert outs[0].count() == 9
        assert scan_exec.release_caches(None) == 5
    finally:
        scan_exec.OWNERLESS_CACHE_CAP = old_cap
        scan_exec.release_caches(None)


# ---------------------------------------------------------------------------
# r13: the engine's own scan planner consumes the file-skipping manifest
# (VERDICT r12 Next #1) — bulk_load/compact publish per-file row min/max,
# StoredTable.cells_for_ranges prunes the FILE LIST driver-side, and the
# client scan/get paths route through it with the row predicate kept as a
# residual, so results are identical by construction.


def _bench_like_cells(spark, n, parts):
    return spark.range(n).repartition(parts).select(
        F.format_string("%012d", F.col("id")).alias("row"),
        F.lit("f").alias("family"),
        F.lit("q").alias("qualifier"),
        F.lit(1000).cast("long").alias("ts"),
        F.lit(4).alias("type"),
        F.lit(0).cast("long").alias("seq"),
        F.format_string("v%d", F.col("id")).alias("value"),
    )


def test_scan_planner_prunes_files_via_skipping_manifest(spark, tmp_path):
    """end-to-end: bulk_load publishes the manifest, adopt_segment
    carries it, client scans/gets read FEWER files than the unpruned
    twin with identical results; WAL segments (no manifest) stay fully
    readable; compaction re-publishes."""
    from hbase_snapshot_spark.client import Get, Scan, Table as ClientTable
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.operators.layout import SKIP_MANIFEST_NAME
    from hbase_snapshot_spark.sources.tools import bulk_load
    from hbase_snapshot_spark.table import Put, TableStore
    import os

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("zt").add_family(FamilyDescriptor("f", max_versions=3)))
    prep = str(tmp_path / "prep")
    bulk_load(_bench_like_cells(spark, 4000, 8), prep, num_partitions=8)
    assert os.path.exists(os.path.join(prep, SKIP_MANIFEST_NAME))
    t.adopt_segment(prep, move=True)

    cl = t.client()
    unpruned = ClientTable(t.cells(), t.descriptor)
    sc = Scan(start_row="000000000100", stop_row="000000000200")
    got, want = cl.scan(sc), unpruned.scan(sc)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 100
    n_all = len(set(want.inputFiles()))
    assert len(set(got.inputFiles())) < n_all == 8

    # point Get: exactly one file scheduled
    g = cl.get(Get("000000003999"))
    assert len(set(g.inputFiles())) == 1
    assert [r.value for r in g.collect()] == ["v3999"]

    # getRowOrBefore prunes to the files at-or-below the key
    rb = cl.get_row_or_before("000000000150")
    assert rb.collect()[0].row == "000000000150"
    assert len(set(rb.inputFiles())) < n_all

    # a WAL append (no manifest — unsorted, near-useless stats) must
    # stay fully visible through the pruned path: unprunable segments
    # contribute all their files
    t.mutate([Put("000000000150").add("f", "q", "fresh")])
    cl2 = t.client()
    got2 = cl2.scan(sc)
    vals = {r.value for r in got2.collect()}
    assert "fresh" in vals and "v150" not in vals  # newest version wins
    assert got2.count() == 100

    # compaction rewrites sorted AND re-publishes the manifest
    t.compact(major=True)
    seg = t.manifest()["segments"][-1]
    assert os.path.exists(os.path.join(
        t.dir, "segments", seg, SKIP_MANIFEST_NAME))
    cl3 = t.client()
    got3 = cl3.scan(sc)
    assert got3.count() == 100
    assert {r.value for r in got3.collect()} == vals
    total3 = len(set(ClientTable(t.cells(), t.descriptor).scan(sc).inputFiles()))
    assert len(set(got3.inputFiles())) < total3


def test_cells_for_ranges_multi_range_and_binary(spark, tmp_path):
    """cells_for_ranges is the bench's point_get/range_scan shape: many
    closed ranges at once; binary row keys prune through hex-encoded
    stats (byte order == hex-string order)."""
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.sources.tools import bulk_load
    from hbase_snapshot_spark.table import TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("mt").add_family(FamilyDescriptor("f")))
    prep = str(tmp_path / "prep")
    bulk_load(_bench_like_cells(spark, 4000, 8), prep, num_partitions=8)
    t.adopt_segment(prep, move=True)

    keys = [f"{k:012d}" for k in (3, 777, 3999)]
    df = t.cells_for_ranges([(k, k) for k in keys]).filter(
        F.col("row").isin(keys))
    assert sorted(r.row for r in df.collect()) == keys
    assert len(set(df.inputFiles())) < 8

    with pytest.raises(ValueError):
        t.cells_for_ranges([])

    # binary table: bytes keys, hex-encoded manifest stats
    tb = store.create_table(
        TableDescriptor("bt").add_family(FamilyDescriptor("f")), binary=True)
    bcells = _bench_like_cells(spark, 4000, 8).select(
        F.encode("row", "utf-8").alias("row"), "family",
        F.encode("qualifier", "utf-8").alias("qualifier"),
        "ts", "type", "seq", F.encode("value", "utf-8").alias("value"))
    prep2 = str(tmp_path / "prep2")
    bulk_load(bcells, prep2, num_partitions=8)
    tb.adopt_segment(prep2, move=True)
    lo, hi = b"000000000100", b"000000000199"
    dfb = tb.cells_for_ranges([(lo, hi)]).filter(
        (F.col("row") >= F.lit(lo)) & (F.col("row") <= F.lit(hi)))
    assert dfb.count() == 100
    assert len(set(dfb.inputFiles())) < 8


def test_run_scan_residual_keeps_pruned_superset_exact(spark, tmp_path):
    """the manifest hi is CLOSED while Scan.stop_row is exclusive — the
    pruned file set is a superset and the stage-1 residual predicate
    restores exactness: a stop_row landing exactly on a file boundary
    must not leak that file's first row."""
    from hbase_snapshot_spark.client import Scan
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.sources.tools import bulk_load
    from hbase_snapshot_spark.table import TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("et").add_family(FamilyDescriptor("f")))
    prep = str(tmp_path / "prep")
    bulk_load(_bench_like_cells(spark, 1000, 4), prep, num_partitions=4)
    t.adopt_segment(prep, move=True)
    # find a real file boundary from the manifest
    from hbase_snapshot_spark.table import _segment_skip_manifest
    import os
    seg = t.manifest()["segments"][-1]
    man = _segment_skip_manifest(os.path.join(t.dir, "segments", seg))
    mins = sorted(st["row"][0] for st in man["files"].values())
    boundary = mins[1]                       # first row of the 2nd file
    out = t.client().scan(Scan(start_row="000000000000", stop_row=boundary))
    rows = [r.row for r in out.select("row").distinct().collect()]
    assert boundary not in rows
    assert max(rows) < boundary


def test_partial_skip_manifest_renders_segment_unprunable(spark, tmp_path):
    """(r13 review finding #1) a manifest that is not a COMPLETE
    inventory of the segment's data files must make the segment
    unprunable — never silently drop the uncovered files' rows.  Also
    pins the descriptor/version consistency fix: a client pinned at
    version v resolves under version-v family caps even after an
    alter() raced in."""
    import json as _json
    import os

    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.operators.layout import SKIP_MANIFEST_NAME
    from hbase_snapshot_spark.sources.tools import bulk_load
    from hbase_snapshot_spark.table import (
        TableStore,
        _SKIP_MANIFEST_CACHE,
        _SKIP_MANIFEST_LOCK,
    )

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("pt").add_family(FamilyDescriptor("f")))
    prep = str(tmp_path / "prep")
    bulk_load(_bench_like_cells(spark, 1000, 4), prep, num_partitions=4)
    t.adopt_segment(prep, move=True)
    seg = os.path.join(t.dir, "segments", t.manifest()["segments"][-1])

    # corrupt the manifest into a partial inventory: drop one file
    mp = os.path.join(seg, SKIP_MANIFEST_NAME)
    man = _json.load(open(mp))
    dropped = sorted(man["files"])[0]
    del man["files"][dropped]
    with open(mp, "w") as f:
        _json.dump(man, f)
    with _SKIP_MANIFEST_LOCK:
        _SKIP_MANIFEST_CACHE.clear()          # forget the complete one

    # the pruned read must now equal the full read (segment unprunable)
    full = t.cells().count()
    ranges = [("000000000000", "000000000999")]
    assert t.cells_for_ranges(ranges).count() == full
    got = t.client().scan().count()
    assert got > 0

    # and the zorder-path reader applies the same rule
    from hbase_snapshot_spark.operators.layout import read_pruned

    pruned = read_pruned(spark, seg, {"row": ("000000000100",
                                              "000000000199")})
    want = spark.read.parquet(seg).filter(
        "row >= '000000000100' AND row <= '000000000199'")
    assert pruned.count() == want.count() == 100


def test_client_descriptor_pinned_at_version(spark, tmp_path):
    """(r13 review finding #3) client(version=v) resolves under the
    version-v descriptor, not HEAD's: an alter() lowering maxVersions
    after the pin must not bleed into the pinned client's reads."""
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.table import Put, TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("vt").add_family(FamilyDescriptor("f",
                                                          max_versions=3)))
    t.mutate([Put("r1").add("f", "q", "v1", ts=1000)])
    t.mutate([Put("r1").add("f", "q", "v2", ts=2000)])
    v = t._head_version()

    t.alter(TableDescriptor("vt").add_family(FamilyDescriptor(
        "f", max_versions=1)))
    from hbase_snapshot_spark.client import Scan

    old = t.client(version=v)
    assert old.scan(Scan(max_versions=None)).count() == 2  # v's cap: 3
    assert t.client().scan(Scan(max_versions=None)).count() == 1  # HEAD: 1


def test_skip_manifest_cache_thread_safe(spark, tmp_path):
    """(r13 review finding #2) the manifest cache evicts under a lock:
    hammer it from 8 threads with a tiny cap — no KeyError /
    'dict changed size' escapes, and every thread reads correct
    manifests (the wire front-ends scan from server threads)."""
    import json as _json
    import os
    import threading

    from hbase_snapshot_spark import table as tbl

    # build many fake immutable "segments" with trivial manifests
    segs = []
    for i in range(40):
        d = tmp_path / f"seg{i}"
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"")  # inventory entry only
        (d / "_skipping_manifest.json").write_text(_json.dumps(
            {"columns": ["row"], "files": {"part-0.parquet": {
                "row": [f"a{i}", f"z{i}"]}}}))
        segs.append(str(d))

    old_cap = tbl._SKIP_MANIFEST_CACHE_CAP
    with tbl._SKIP_MANIFEST_LOCK:
        tbl._SKIP_MANIFEST_CACHE.clear()
    tbl._SKIP_MANIFEST_CACHE_CAP = 4
    errors = []

    def worker(seed):
        try:
            for k in range(300):
                s = segs[(seed * 7 + k) % len(segs)]
                m = tbl._segment_skip_manifest(s)
                assert m is not None and "files" in m
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    try:
        ts = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors, errors
        assert len(tbl._SKIP_MANIFEST_CACHE) <= 4
    finally:
        tbl._SKIP_MANIFEST_CACHE_CAP = old_cap
        with tbl._SKIP_MANIFEST_LOCK:
            tbl._SKIP_MANIFEST_CACHE.clear()


def _epoch_cells(spark, n, parts, ts, key_lo=0, typ=4):
    """n cells with row keys [key_lo, key_lo+n) all stamped ``ts`` —
    one 'commit epoch' of an edit log."""
    return spark.range(n).repartition(parts).select(
        F.format_string("%012d", F.col("id") + key_lo).alias("row"),
        F.lit("f").alias("family"),
        F.lit("q").alias("qualifier"),
        F.lit(ts).cast("long").alias("ts"),
        F.lit(typ).alias("type"),
        F.lit(0).cast("long").alias("seq"),
        F.format_string("v%d@" + str(ts), F.col("id") + key_lo).alias("value"),
    )


def test_time_range_file_pruning_on_edit_log(spark, tmp_path):
    """(r13 VERDICT Next #2 — TimeRangeTracker parity,
    TimeRangeTracker.java:147 / StoreFile.shouldSeek:991) WAL-append
    segments publish TS-ONLY manifests; a ts-bounded scan reads FEWER
    files on a multi-segment edit log with results identical to the
    unpruned twin; a delete NEWER than the queried range still masks
    (the floor-only soundness rule)."""
    import os

    from hbase_snapshot_spark.client import Scan, Table as ClientTable
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.operators.layout import SKIP_MANIFEST_NAME
    from hbase_snapshot_spark.table import TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("log").add_family(FamilyDescriptor("f", max_versions=3)))
    # three commit epochs, each its own WAL segment (time-clustered,
    # row ranges fully overlapping — row stats could never prune these)
    for ts in (1000, 2000, 3000):
        t.append_cells(_epoch_cells(spark, 300, 4, ts))
    segs = t.manifest()["segments"]
    assert len(segs) == 3
    for s in segs:
        assert os.path.exists(os.path.join(
            t.dir, "segments", s, SKIP_MANIFEST_NAME))

    cl = t.client()
    unpruned = ClientTable(t.cells(), t.descriptor)
    n_all = len(set(unpruned.scan(Scan(max_versions=None)).inputFiles()))

    # time range [2500, 3500): only the ts=3000 epoch can contribute
    sc = Scan(max_versions=None, time_range=(2500, 3500))
    got, want = cl.scan(sc), unpruned.scan(sc)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 300
    assert len(set(got.inputFiles())) < n_all

    # TTL cutoff 2500 (ttl=1s, now=3500): same file set, same equality
    sc_ttl = Scan(max_versions=None, family_ttl={"f": 1}, now=3500)
    got_t, want_t = cl.scan(sc_ttl), unpruned.scan(sc_ttl)
    assert sorted(map(tuple, got_t.collect())) == sorted(
        map(tuple, want_t.collect()))
    assert len(set(got_t.inputFiles())) < n_all

    # soundness: a DeleteFamily at ts=5000 (a LATER segment, wholly
    # ABOVE the queried range) must still mask rows 0..49 inside the
    # range — upper-side pruning would wrongly skip its segment
    t.append_cells(_epoch_cells(spark, 50, 2, 5000, typ=14).select(
        "row", "family", F.lit(None).cast("string").alias("qualifier"),
        "ts", "type", "seq", F.lit(None).cast("string").alias("value")))
    cl2 = t.client()
    got2 = cl2.scan(sc)
    want2 = ClientTable(t.cells(), t.descriptor).scan(sc)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect()))
    assert got2.count() == 250  # 50 rows masked by the late delete
    rows2 = {r.row for r in got2.select("row").distinct().collect()}
    assert "000000000010" not in rows2 and "000000000100" in rows2


def test_ts_floor_derivation():
    """resolve.ts_floor: the sound contributors and the unsound ones."""
    from hbase_snapshot_spark.model import FOREVER
    from hbase_snapshot_spark.resolve import ts_floor

    # time range floor
    assert ts_floor(ResolveSpec(time_range=(1000, 2500))) == 1000
    # TTL floor: all read families bounded
    assert ts_floor(ResolveSpec(
        families=["f"], family_ttl={"f": 1}, now=3500)) == 2500
    # min over per-family cutoffs
    assert ts_floor(ResolveSpec(
        families=["a", "b"], family_ttl={"a": 1, "b": 2}, now=10_000)) == 8000
    # unknown read set -> TTL contributes nothing
    assert ts_floor(ResolveSpec(family_ttl={"f": 1}, now=3500)) is None
    # an unbounded read family blocks the TTL floor
    assert ts_floor(ResolveSpec(
        families=["a", "b"], family_ttl={"a": 1, "b": FOREVER},
        now=3500)) is None
    # wall-clock now (None) yields no TTL bound (determinism rule)
    assert ts_floor(ResolveSpec(families=["f"], family_ttl={"f": 1})) is None
    # both contributors: max wins
    assert ts_floor(ResolveSpec(
        time_range=(1000, 9000), families=["f"], family_ttl={"f": 1},
        now=9000)) == 8000
    assert ts_floor(ResolveSpec()) is None


def test_cells_for_ranges_ts_only_and_combined(spark, tmp_path):
    """cells_for_ranges: ts_lo alone (no row ranges) prunes WAL
    segments; ts_lo + row ranges intersect on a bulk-loaded segment."""
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor
    from hbase_snapshot_spark.sources.tools import bulk_load
    from hbase_snapshot_spark.table import TableStore

    store = TableStore(spark, str(tmp_path / "tables"))
    t = store.create_table(
        TableDescriptor("x").add_family(FamilyDescriptor("f")))
    for ts in (1000, 2000):
        t.append_cells(_epoch_cells(spark, 200, 3, ts))
    full = len(set(t.cells().inputFiles()))

    # ts-only restriction (the scan_timerange shape over an edit log)
    df = t.cells_for_ranges(None, ts_lo=1500)
    assert len(set(df.inputFiles())) < full
    assert df.count() == 200            # whole ts=2000 epoch, nothing else
    assert {r.ts for r in df.select("ts").distinct().collect()} == {2000}

    # row + ts combined on a row-sorted bulk segment: intersection of
    # the two prunes (row carves the key band, ts carves the old epoch)
    t2 = store.create_table(
        TableDescriptor("y").add_family(FamilyDescriptor("f")))
    prep = str(tmp_path / "prep")
    bulk_load(_epoch_cells(spark, 400, 4, 2000).unionAll(
        _epoch_cells(spark, 400, 4, 900, key_lo=400)), prep, num_partitions=8)
    t2.adopt_segment(prep, move=True)
    both = t2.cells_for_ranges([("000000000100", "000000000150")], ts_lo=1500)
    row_only = t2.cells_for_ranges([("000000000100", "000000000150")])
    assert len(set(both.inputFiles())) <= len(set(row_only.inputFiles())) < 8
    got = both.filter(
        (F.col("row") >= "000000000100") & (F.col("row") <= "000000000150")
        & (F.col("ts") >= 1500))
    assert got.count() == 51
