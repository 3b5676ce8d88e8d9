"""batch_pipeline: one client runs a fixed chain of batch work per pass.

Each pass, in order:

* the analytics query set over the analytics table (one bulk segment
  plus ``AN_WAL_BATCHES`` WAL segments): read count, row count, a 200-band multi-range scan, a
  FilterList(SCVF, WhileMatch(PageFilter)) scan, a time-range scan whose
  ts floor skips the old segments, a view + SQL group-by, and a diff
  across two manifest versions;
* the ETL chain on fresh tables: import_tsv + bulk_load + adopt_segment,
  ``ETL_APPEND_BATCHES`` append_cells, replicate(once) to a peer, major
  compaction, snapshot, clone_to another store, export_table,
  import_cells and copy_table;
* traced runs only: the corpus chain, WARC archives → documents →
  preprocess_corpus → write_training_shards, then
  verify_training_shards.  It measures its layers there and stays out
  of the end-to-end ops, which keeps untraced runs inside the run
  budget.

Shuffle and window work in resolve/mask, the multi-range plan and file
pruning dominate the queries; the write path, the tools and the
operators dominate the rest.  A run makes one pass per
``PASS_SECONDS`` of ``--seconds`` (at least one).
"""

from __future__ import annotations

import os
import time

import gen
import twins
from common import (
    Context,
    OpLog,
    cell_bytes,
    check,
    head_files,
    head_parquet_files,
    head_segment_bytes,
    write_cells,
)
from measure import median

#: one pass logs 23 ops; p55 is the highest percentile that leaves ten
#: of them beyond it
TAIL_PCT = 55.0
SETUPS = 3
#: one pass per this many seconds of --seconds (a pass takes ~25 s)
PASS_SECONDS = 15

CAPS = {"a": 3, "b": 1}
LAYER_METRICS = (
    "table.append_cells_s", "table.adopt_segment_s", "table.compact_major_s",
    "table.snapshot_ms", "table.clone_to_s", "table.diff_versions_s",
    "table.view_agg_s", "table.client_open_ms", "table.files_read_ratio",
    "table.segments_live", "client.row_count_s", "filters.filter_scan_s",
    "resolve.read_count_s", "resolve.time_range_scan_s",
    "plans.multirange.scan_ranges_s", "sources.tools.import_tsv_s",
    "sources.tools.bulk_load_s", "sources.tools.export_table_s",
    "sources.tools.import_cells_s", "sources.tools.copy_table_s",
    "streaming.replication.replicate_s", "streaming.replication.shipped_ratio",
    "sources.warc.to_documents_s", "operators.pipeline.preprocess_s",
    "sources.shards.write_s", "sources.shards.verify_s",
    "operators.pipeline.kept_ratio", "spark.jobs_per_query",
    "spark.tasks_per_query", "spark.tasks_etl",
)
COLS = ("row", "family", "qualifier", "ts", "value")


def _descriptor(name: str, scope: int = 0):
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor

    d = TableDescriptor(name)
    d.add_family(FamilyDescriptor("a", max_versions=3, replication_scope=scope))
    d.add_family(FamilyDescriptor("b", max_versions=1, replication_scope=scope))
    return d


def _inputs(w: str, seed: int) -> dict:
    """Generate every input of the workload into the run dir ``w``."""
    bulk, wal = gen.analytics_cells(seed)
    inp = {"bulk": os.path.join(w, "an_bulk.parquet"), "wal": [],
           "bulk_cells": bulk, "wal_cells": wal,
           "bands": gen.analytics_bands(seed), "params": gen.analytics_params(seed)}
    inp["decoded_bytes"] = write_cells(inp["bulk"], bulk)
    for k, batch in enumerate(wal):
        p = os.path.join(w, f"an_wal_{k}.parquet")
        inp["decoded_bytes"] += write_cells(p, batch)
        inp["wal"].append(p)
    inp["tsv"] = os.path.join(w, "etl.tsv")
    with open(inp["tsv"], "w") as f:
        f.write(gen.etl_tsv(seed))
    inp["etl_batches"] = []
    for k, batch in enumerate(gen.etl_batches(seed)):
        p = os.path.join(w, f"etl_batch_{k}.parquet")
        write_cells(p, batch)
        inp["etl_batches"].append(p)
    inp["etl_batch_cells"] = sum(len(b) for b in gen.etl_batches(seed))
    inp["warc"] = os.path.join(w, "warc")
    os.makedirs(inp["warc"])
    for k, data in enumerate(gen.warc_archives(seed)):
        with open(os.path.join(inp["warc"], f"part-{k}.warc.gz"), "wb") as f:
            f.write(data)
    inp["docs"] = gen.CORPUS_DOCS
    return inp


def _load_analytics(ctx, store, name: str, inp: dict):
    """The timed set-up: bulk-load the analytics bulk segment and adopt it."""
    from hbase_snapshot_spark.sources import tools

    tbl = store.create_table(_descriptor(name), binary=False)
    out = os.path.join(ctx.workdir, f"bulk-{name}")
    tools.bulk_load(ctx.spark.read.parquet(inp["bulk"]), out,
                    num_partitions=2 * ctx.nproc)
    tbl.adopt_segment(out, move=True)
    return tbl


def _queries(ctx, A, inp: dict, now: int):
    """(name, span, layer, fn) of the analytics query set, in order."""
    from hbase_snapshot_spark.client import Scan
    from hbase_snapshot_spark.filters import (
        CompareOp,
        FilterList,
        PageFilter,
        SingleColumnValueFilter,
        SubstringComparator,
        WhileMatchFilter,
    )
    from hbase_snapshot_spark.resolve import ResolveSpec

    tr, spark, prm = ctx.tracer, ctx.spark, inp["params"]
    old_version = 1 + 6          # adopt, then six of the eight appends

    def lazy(build, layer, action):
        """A lazy call: the DataFrame build (in ``layer``) and its action
        (in ``spark``) as two child spans."""
        with tr.span("build", layer):
            df = build()
        with tr.span("exec", "spark"):
            return action(df)

    def collect(df, cols=COLS):
        return [tuple(r) for r in df.select(*cols).collect()]

    def client():
        with tr.span("table.client_open", "table"):
            return A.client()

    def filter_scan():
        c = client()
        flt = FilterList(FilterList.MUST_PASS_ALL, [
            SingleColumnValueFilter("a", "q0", CompareOp.EQUAL,
                                    SubstringComparator(prm["scvf_tag"])),
            WhileMatchFilter(PageFilter(prm["page"])),
        ])
        return lazy(lambda: c.scan(Scan(filter=flt)), "filters", collect)

    def time_range_scan():
        c = client()
        return lazy(lambda: c.scan(Scan(time_range=(prm["time_lo"], prm["time_hi"]))),
                    "resolve", collect)

    def row_count():
        c = client()
        with tr.span("client.row_count", "client"):
            return c.row_count()

    def view_agg():
        with tr.span("table.create_view", "table"):
            A.create_view("an_view")
        return lazy(lambda: spark.sql(
            "SELECT family, count(*) AS n, sum(length(value)) AS b "
            "FROM an_view GROUP BY family"), "client",
            lambda df: [tuple(r) for r in df.collect()])

    return [
        ("read_count", "resolve.read_count", "resolve",
         lambda: lazy(lambda: A.read(ResolveSpec(max_versions=3)), "resolve",
                      lambda df: df.count())),
        ("row_count", "query.row_count", "client", row_count),
        ("scan_ranges", "plans.multirange.scan_ranges", "plans.multirange",
         lambda: lazy(lambda: A.scan_ranges(inp["bands"]), "plans.multirange", collect)),
        ("filter_scan", "filters.filter_scan", "filters", filter_scan),
        ("time_range_scan", "resolve.time_range_scan", "resolve", time_range_scan),
        ("view_agg", "table.view_agg", "table", view_agg),
        ("diff_versions", "table.diff_versions", "table",
         lambda: lazy(lambda: A.diff_versions(old_version, None, now=now), "table",
                      lambda df: collect(df, COLS + ("change",)))),
    ]


def _resolved(con, table, max_versions):
    """DuckDB's resolved view of ``table``'s HEAD segment files."""
    return twins.q(con, twins.resolve_sql(
        cells_sql=twins.segment_cells_sql(head_parquet_files(table)),
        max_versions=max_versions, family_max_versions=CAPS))


def _views_agree(tables) -> tuple[bool, dict]:
    """Order-insensitive hash and count of each table's newest-version
    view, resolved by DuckDB straight from the files the engine wrote."""
    con = twins.connect()
    got = {}
    for name, t in tables:
        rows = _resolved(con, t, 1)
        got[name] = (twins.rows_hash(rows), len(rows))
    con.close()
    return len(set(got.values())) == 1, got


def _etl_chain(ctx, log: OpLog, p: int, inp: dict, res: dict) -> list:
    """The ETL chain on fresh tables; returns its tables for the checks."""
    from hbase_snapshot_spark.sources import tools
    from hbase_snapshot_spark.streaming.replication import replicate
    from hbase_snapshot_spark.table import TableStore

    spark, tr = ctx.spark, ctx.tracer
    base = os.path.join(ctx.workdir, f"etl-{p}")
    store = TableStore(spark, os.path.join(base, "store"))
    store2 = TableStore(spark, os.path.join(base, "store2"))
    E = store.create_table(_descriptor("etl", scope=1), binary=False)
    P = store.create_table(_descriptor("peer", scope=1), binary=False)
    X = store.create_table(_descriptor("imported", scope=1), binary=False)
    Y = store.create_table(_descriptor("copied", scope=1), binary=False)
    tsv_cells = gen.ETL_ROWS * (len(gen.ETL_TSV_COLUMNS) - 1)

    def op(name, span, layer, fn):
        _step(ctx, log, f"p{p}-{name}", name, "write", "etl", span, layer, fn)

    def import_bulk():
        with tr.span("sources.tools.import_tsv", "sources.tools"):
            cells = tools.import_tsv(spark, inp["tsv"], gen.ETL_TSV_COLUMNS,
                                     ts=gen.BASE_TS)
            if ctx.trace:          # prefix action: traced runs only
                cells.count()
        out = os.path.join(base, "bulk")
        with tr.span("sources.tools.bulk_load", "sources.tools"):
            tools.bulk_load(cells, out, num_partitions=ctx.nproc)
        with tr.span("table.adopt_segment", "table"):
            E.adopt_segment(out)
        with tr.span("table.adopt_segment", "table"):
            P.adopt_segment(out, move=True)

    t_chain = time.perf_counter()
    op("import_bulk", "etl.import_bulk", "bench", import_bulk)
    for k, path in enumerate(inp["etl_batches"]):
        op(f"append_{k}", "table.append_cells", "table",
           lambda path=path: E.append_cells(spark.read.parquet(path)))
    t_last_commit = time.perf_counter()
    op("replicate", "streaming.replication.replicate", "streaming.replication",
               lambda: replicate(spark, E, P, os.path.join(base, "ckpt"), once=True))
    res["replication_lag_s"].append(time.perf_counter() - t_last_commit)
    if ctx.trace:
        shipped = P.cells().count() - tsv_cells
        res["shipped_ratio"].append(shipped / inp["etl_batch_cells"])
    op("compact_major", "table.compact_major", "table", lambda: E.compact(major=True))
    op("snapshot", "table.snapshot", "table", lambda: E.snapshot("snap"))
    op("clone_to", "table.clone_to", "table",
       lambda: E.clone_to(store2, "clone", "snap"))
    exp = os.path.join(base, "export")
    op("export_table", "sources.tools.export_table", "sources.tools",
       lambda: tools.export_table(E.cells(), exp, max_versions=1,
                                  family_max_versions=CAPS))
    op("import_cells", "sources.tools.import_cells", "sources.tools",
       lambda: tools.import_cells(spark, exp, X))
    op("copy_table", "sources.tools.copy_table", "sources.tools",
       lambda: tools.copy_table(E.cells(), Y))
    chain_s = time.perf_counter() - t_chain
    res["etl_cells_per_s"].append((tsv_cells + inp["etl_batch_cells"]) / chain_s)
    tables = [("source", E), ("peer", P), ("imported", X), ("copied", Y)]
    try:
        tables.append(("clone", store2.table("clone")))
    except Exception as e:  # a failed clone_to is already logged as a failed op
        res["errors"].append(f"clone missing: {e}")
    return tables


def _step(ctx, log: OpLog, op_id: str, name: str, cls: str, job_kind: str,
          span: str, layer: str, fn):
    """One timed step: its own Spark job group, an op span, and a span
    of the layer it calls into.  Returns (ok, result)."""
    tr = ctx.tracer
    ctx.counters.begin(op_id, job_kind)

    def body():
        with tr.span(span, layer):
            return fn()

    with tr.span(f"op.{name}", "bench", op_id):
        return log.timed(op_id, name, cls, body)


def _corpus_chain(ctx, log: OpLog, p: int, inp: dict, res: dict):
    from pyspark.sql import functions as F

    from hbase_snapshot_spark.operators.pipeline import preprocess_corpus
    from hbase_snapshot_spark.sources.shards import (
        verify_training_shards,
        write_training_shards,
    )
    from hbase_snapshot_spark.sources.warc import warc_to_documents

    spark, tr = ctx.spark, ctx.tracer
    out = os.path.join(ctx.workdir, f"shards-{p}")

    def ingest():
        with tr.span("sources.warc.to_documents", "sources.warc"):
            docs = warc_to_documents(spark, inp["warc"])
            if ctx.trace:
                n_in = docs.count()
        with tr.span("operators.pipeline.preprocess", "operators.pipeline"):
            chunks = preprocess_corpus(docs)
            if ctx.trace:
                kept = chunks.select("doc_id").distinct().count()
                res["kept_ratio"].append(kept / n_in)
        with tr.span("sources.shards.write", "sources.shards"):
            return write_training_shards(chunks, out, key=F.col("doc_id"), n_shards=4)

    t = time.perf_counter()
    _step(ctx, log, f"p{p}-corpus_ingest", "corpus_ingest", "write", "corpus",
          "corpus.ingest", "bench", ingest)
    ok, problems = _step(ctx, log, f"p{p}-corpus_verify", "corpus_verify", "read",
                         "corpus", "sources.shards.verify", "sources.shards",
                         lambda: verify_training_shards(spark, out))
    res["corpus_docs_per_s"].append(inp["docs"] / (time.perf_counter() - t))
    return ok, problems


def prepare(workdir: str, seed: int) -> dict:
    """The run's inputs and the DuckDB twins of its query set, without
    Spark (made while the session starts)."""
    t_phase = time.perf_counter()
    inp = _inputs(workdir, seed)
    info: dict = {"inputs_s": time.perf_counter() - t_phase}
    info["analytics_cells"] = len(inp["bulk_cells"]) + sum(map(len, inp["wal_cells"]))
    info["analytics_decoded_bytes"] = inp["decoded_bytes"]

    con = twins.connect()
    twins.register_cells(con, "an_all", inp["bulk_cells"] + sum(inp["wal_cells"], []))
    twins.register_cells(con, "an_old", inp["bulk_cells"] + sum(inp["wal_cells"][:6], []))
    want = twins.analytics_twins(con, CAPS, inp["bands"], inp["params"])
    con.close()
    info["twins_s"] = time.perf_counter() - t_phase - info["inputs_s"]
    return {"inp": inp, "want": want, "info": info}


def run(ctx: Context, prep: dict) -> dict:
    from hbase_snapshot_spark.table import TableStore

    spark, tr = ctx.spark, ctx.tracer
    inp, want, info = prep["inp"], prep["want"], dict(prep["info"])
    store = TableStore(spark, os.path.join(ctx.workdir, "store"))
    setup_s = []
    for i in range(SETUPS):
        t = time.perf_counter()
        A = _load_analytics(ctx, store, f"an{i}", inp)
        setup_s.append(time.perf_counter() - t)
        if i < SETUPS - 1:
            store.drop_table(f"an{i}")
    # the WAL segments once, on the table the passes query
    for path in inp["wal"]:
        A.append_cells(spark.read.parquet(path))

    log, corpus_log = OpLog(), OpLog()
    checks: list = []
    res = {k: [] for k in ("replication_lag_s", "shipped_ratio", "etl_cells_per_s",
                           "corpus_docs_per_s", "kept_ratio", "errors",
                           "files_ratio", "set_s")}
    now = gen.BASE_TS + 2 * gen.HOUR_MS
    # the pass count follows --seconds alone, never host speed, so every
    # run of one configuration measures the same work
    passes = max(1, int(ctx.seconds // PASS_SECONDS))
    for p in range(passes):
        queries = _queries(ctx, A, inp, now)
        t_set = time.perf_counter()
        for name, span, layer, fn in queries:
            ok, got = _step(ctx, log, f"p{p}-{name}", name, "read", "query",
                            span, layer, fn)
            if ok:
                val = got if isinstance(got, int) else twins.rows_hash(got)
                check(checks, f"query {name}", val == want[name],
                      "" if val == want[name] else "result differs from duckdb twin")
        res["set_s"].append(time.perf_counter() - t_set)
        if ctx.trace:
            src = A.cells_for_ranges([], ts_lo=inp["params"]["time_lo"])
            res["files_ratio"].append(len(src.inputFiles()) / max(1, head_files(A)))
        tables = _etl_chain(ctx, log, p, inp, res)
        same, hashes = _views_agree(tables)
        check(checks, "etl tables agree", same and len(tables) == 5,
              "" if same else str(hashes))
        if ctx.trace:
            ok, problems = _corpus_chain(ctx, corpus_log, p, inp, res)
            check(checks, "training shards verify", ok and problems == [],
                  str(problems[:3]) if ok else "corpus chain failed")
    # one client: its busy time, without the untimed checks between steps
    window_s = sum(o["s"] for o in log.ops)

    # space amplification of the ETL source after its chain
    E = TableStore(spark, os.path.join(ctx.workdir, f"etl-{p}", "store")).table("etl")
    con = twins.connect()
    live = _resolved(con, E, None)
    con.close()
    space_amp = head_segment_bytes(E) / sum(cell_bytes(r, f, q, v) for r, f, q, _t, v in live)

    ops = log.ops
    info_metrics = {
        "analytics_set_s": median(res["set_s"]),
        "etl_cells_per_s": median(res["etl_cells_per_s"]),
        "replication_lag_s": median(res["replication_lag_s"]),
        "passes": float(passes),
    }
    if ctx.trace:
        info_metrics["corpus_docs_per_s"] = median(res["corpus_docs_per_s"])
    layer = {}
    if ctx.trace:
        def d(n, scale=1.0):
            v = tr.durations(n)
            return median(v) * scale if v else 0.0

        layer = {
            "table.append_cells_s": d("table.append_cells"),
            "table.adopt_segment_s": d("table.adopt_segment"),
            "table.compact_major_s": d("table.compact_major"),
            "table.snapshot_ms": d("table.snapshot", 1000),
            "table.clone_to_s": d("table.clone_to"),
            "table.diff_versions_s": d("table.diff_versions"),
            "table.view_agg_s": d("table.view_agg"),
            "table.client_open_ms": d("table.client_open", 1000),
            "table.files_read_ratio": median(res["files_ratio"]),
            "table.segments_live": float(len(A.manifest()["segments"])),
            "client.row_count_s": d("client.row_count"),
            "filters.filter_scan_s": d("filters.filter_scan"),
            "resolve.read_count_s": d("resolve.read_count"),
            "resolve.time_range_scan_s": d("resolve.time_range_scan"),
            "plans.multirange.scan_ranges_s": d("plans.multirange.scan_ranges"),
            "sources.tools.import_tsv_s": d("sources.tools.import_tsv"),
            "sources.tools.bulk_load_s": d("sources.tools.bulk_load"),
            "sources.tools.export_table_s": d("sources.tools.export_table"),
            "sources.tools.import_cells_s": d("sources.tools.import_cells"),
            "sources.tools.copy_table_s": d("sources.tools.copy_table"),
            "streaming.replication.replicate_s": d("streaming.replication.replicate"),
            "streaming.replication.shipped_ratio": median(res["shipped_ratio"]),
            "sources.warc.to_documents_s": d("sources.warc.to_documents"),
            "operators.pipeline.preprocess_s": d("operators.pipeline.preprocess"),
            "sources.shards.write_s": d("sources.shards.write"),
            "sources.shards.verify_s": d("sources.shards.verify"),
            "operators.pipeline.kept_ratio": median(res["kept_ratio"]),
        }
        counts = ctx.counters.per_kind()
        qj, qt = counts.get("query", ([], []))
        layer["spark.jobs_per_query"] = median(qj) if qj else 0.0
        layer["spark.tasks_per_query"] = median(qt) if qt else 0.0
        layer["spark.tasks_etl"] = sum(counts.get("etl", ([], []))[1]) / passes
    info.update({"space_amp": space_amp, "passes": passes})
    return {"ops": ops, "errors": log.errors + corpus_log.errors + res["errors"], "window_s": window_s,
            "setup_s": setup_s, "space_amp": space_amp, "checks": checks,
            "layer": layer, "info": info, "info_metrics": info_metrics}
