"""kv_serving: closed-loop point and range traffic with writes beside it.

Two client threads, each replaying its own seeded op stream
(``gen.kv_ops``) against one bulk-loaded table, each op issued only
after the previous one returned — the shape of HTable callers, and of
the thrift/REST front-ends that share one process.  Per-op fixed costs
dominate: manifest and descriptor reads, plan building, file pruning,
Spark job launch, the commit and the single-writer lock.
"""

from __future__ import annotations

import os
import threading
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
    p50_ms,
    tree_bytes,
    write_cells,
)
from measure import median

#: the tail percentile reported as ``op_tail_ms``: a 15 s run on an
#: unloaded 4-core host issues 50 ops, leaving at least ten beyond p75
TAIL_PCT = 75.0
SETUPS = 3

CLS = {"get": "read", "scan": "read", "row_before": "read", "exists": "read",
       "mutate": "write", "check_and_put": "write", "check_and_delete": "write",
       "increment": "write", "compact": "maintenance"}
CAPS = {"a": 3, "b": 1, "t": 3}
LAYER_METRICS = (
    "table.client_open_ms", "table.cells_for_ranges_ms", "table.files_read_ratio",
    "table.segments_live", "table.mutate_ms", "table.check_and_put_ms",
    "table.increment_ms", "table.maybe_compact_ms", "table.compactions",
    "table.write_amp", "client.get.build_ms", "client.get.exec_ms",
    "client.scan.build_ms", "client.scan.exec_ms", "filters.compile_ms",
    "spark.jobs_per_get", "spark.tasks_per_get", "spark.jobs_per_scan",
    "spark.tasks_per_scan", "spark.jobs_per_write", "spark.tasks_per_write",
)
COLS = ("row", "family", "qualifier", "ts", "value")


def _descriptor(name: str):
    from hbase_snapshot_spark.model import FamilyDescriptor, TableDescriptor

    d = TableDescriptor(name)
    d.add_family(FamilyDescriptor("a", max_versions=3, replication_scope=1))
    d.add_family(FamilyDescriptor("b", max_versions=1))
    d.add_family(FamilyDescriptor("t", max_versions=3, ttl=gen.TTL_S))
    return d


def _load(ctx, store, name: str, input_path: str):
    from hbase_snapshot_spark.sources import tools

    tbl = store.create_table(_descriptor(name), binary=False)
    out = os.path.join(ctx.workdir, f"bulk-{name}")
    tools.bulk_load(ctx.spark.read.parquet(input_path), out,
                    num_partitions=2 * ctx.nproc)
    tbl.adopt_segment(out, move=True)
    return tbl


def make_filter(op: dict):
    from hbase_snapshot_spark.filters import (
        ColumnPrefixFilter,
        CompareOp,
        PageFilter,
        PrefixFilter,
        SingleColumnValueFilter,
        SubstringComparator,
        ValueFilter,
    )

    f, a = op["filter"], op["arg"]
    if f == "scvf":
        return SingleColumnValueFilter("a", "q0", CompareOp.EQUAL,
                                       SubstringComparator(a))
    if f == "prefix":
        return PrefixFilter(a)
    if f == "value":
        return ValueFilter(CompareOp.EQUAL, SubstringComparator(a))
    if f == "page":
        return PageFilter(a)
    return ColumnPrefixFilter(a)


def _mutations(muts: list[dict]):
    from hbase_snapshot_spark.table import Delete, Put

    out, nbytes = [], 0
    for m in muts:
        if m["type"] == "put":
            p = Put(m["row"])
            for f, q, v in m["cells"]:
                p.add(f, q, v)
                nbytes += cell_bytes(m["row"], f, q, v)
            out.append(p)
            continue
        d = Delete(m["row"])
        if m["kind"] == "family":
            d.delete_family(m["family"])
        elif m["kind"] == "columns":
            d.delete_columns(m["family"], m["qualifier"])
        elif m["kind"] == "column":
            d.delete_column(m["family"], m["qualifier"])
        fams = [m["family"]] if "family" in m else list(CAPS)
        nbytes += sum(cell_bytes(m["row"], f, m.get("qualifier"), None) for f in fams)
        out.append(d)
    return out, nbytes


class _Client:
    """One closed-loop caller; shares the written-row set and the op log."""

    def __init__(self, ctx, store, name, ops, cid, shared):
        self.ctx, self.tr = ctx, ctx.tracer
        self.tbl = store.table(name)
        self.ops, self.cid, self.sh = ops, cid, shared

    def _wrote(self, rows) -> None:
        with self.sh["lock"]:
            self.sh["written"].update(rows)

    def _unwritten(self, rows) -> bool:
        with self.sh["lock"]:
            return not any(r in self.sh["written"] for r in rows)

    def execute(self, op: dict, op_id: str):
        from hbase_snapshot_spark.client import Get, Scan
        from hbase_snapshot_spark.table import Delete, Put

        tr, tbl, kind = self.tr, self.tbl, op["kind"]
        with tr.span(f"op.{kind}", "bench", op_id):
            if kind in ("get", "scan", "row_before", "exists"):
                with tr.span("table.client_open", "table"):
                    c = tbl.client()
                if kind == "get":
                    tr_ = None
                    if "age_range" in op:
                        hi, lo = op["age_range"]
                        tr_ = (self.sh["run_start"] - hi, self.sh["run_start"] - lo)
                    with tr.span("client.get.build", "client"):
                        df = c.get(Get(row=op["row"], columns=op.get("columns"),
                                       max_versions=op.get("max_versions", 1),
                                       time_range=tr_))
                    with tr.span("client.get.exec", "spark"):
                        return [tuple(r) for r in df.select(*COLS).collect()]
                if kind == "scan":
                    with tr.span("client.scan.build", "client"):
                        df = c.scan(Scan(start_row=op["start"], stop_row=op["stop"],
                                         filter=make_filter(op)))
                    with tr.span("client.scan.exec", "spark"):
                        return [tuple(r) for r in df.select(*COLS).collect()]
                if kind == "row_before":
                    with tr.span("client.row_before.build", "client"):
                        df = c.get_row_or_before(op["row"])
                    with tr.span("client.row_before.exec", "spark"):
                        return df.select(*COLS).collect()
                with tr.span("client.exists", "client"):
                    return c.exists(Get(row=op["row"]))
            if kind == "mutate":
                muts, nbytes = _mutations(op["mutations"])
                self._wrote(m.row for m in muts)
                self.sh["user_bytes"][self.cid] += nbytes
                with tr.span("table.mutate", "table"):
                    return tbl.mutate(muts)
            if kind == "check_and_put":
                p = Put(op["row"]).add("b", "v", op["value"])
                self.sh["user_bytes"][self.cid] += cell_bytes(op["row"], "b", "v", op["value"])
                with tr.span("table.check_and_put", "table"):
                    return tbl.check_and_put(op["row"], "b", "v", op["expected"], p)
            if kind == "check_and_delete":
                d = Delete(op["row"]).delete_columns("b", "v")
                self.sh["user_bytes"][self.cid] += cell_bytes(op["row"], "b", "v", None)
                with tr.span("table.check_and_delete", "table"):
                    return tbl.check_and_delete(op["row"], "b", "v", op["expected"], d)
            if kind == "increment":
                self.sh["user_bytes"][self.cid] += cell_bytes(op["row"], "a", "n", "0" * 4)
                with tr.span("table.increment", "table"):
                    return tbl.increment_column_value(op["row"], "a", "n", 1)
            with tr.span("table.maybe_compact", "table"):
                return tbl.maybe_compact()

    def _trace_extras(self, op: dict) -> None:
        """Per-layer probes taken outside the op's timed region (traced
        runs only): the file-pruned source of a Get, and filter compile."""
        tr = self.tr
        if op["kind"] == "get":
            with tr.span("table.cells_for_ranges", "table"):
                src = self.tbl.cells_for_ranges([(op["row"], op["row"])])
            ratio = len(src.inputFiles()) / max(1, head_files(self.tbl))
            with self.sh["lock"]:
                self.sh["files_ratio"].append(ratio)
        elif op["kind"] == "scan":
            with tr.span("filters.compile", "filters"):
                make_filter(op).compile()

    def loop(self, log: OpLog, deadline: float) -> None:
        sh = self.sh
        for i, op in enumerate(self.ops):
            if time.perf_counter() >= deadline:
                break
            kind = op["kind"]
            op_id = f"c{self.cid}-{i}"
            self.ctx.counters.begin(op_id, kind)
            ok, out = log.timed(op_id, kind, CLS[kind], lambda: self.execute(op, op_id))
            if not ok:
                continue
            if self.ctx.trace:
                self._trace_extras(op)
            with sh["lock"]:
                if kind == "increment":
                    sh["increments"][op["row"]] = sh["increments"].get(op["row"], 0) + 1
                elif kind in ("check_and_put", "check_and_delete"):
                    sh["cas"].append((op_id, out))
                elif kind == "compact" and out is not None:
                    sh["compactions"] += 1
            if kind == "get" and self._unwritten([op["row"]]):
                sh["reads"].append((op, out))
            elif kind == "scan":
                lo, hi = int(op["start"][1:]), int(op["stop"][1:])
                if self._unwritten(gen.kv_row(r) for r in range(lo, hi)):
                    sh["reads"].append((op, out))


def _warm_up(ctx, store, name: str, stream: list[dict]) -> None:
    """Untimed: the first get, scan, mutate and increment of a stream on
    a spare set-up table, so JIT and codegen caches are warm before the
    measured window."""
    shared = {"lock": threading.Lock(), "written": set(), "run_start": 0,
              "user_bytes": [0]}
    cl = _Client(ctx, store, name, [], 0, shared)
    todo = {"get", "scan", "mutate", "increment"}
    for op in stream:
        if op["kind"] in todo:
            todo.discard(op["kind"])
            cl.execute(op, "warmup")


def prepare(workdir: str, seed: int) -> dict:
    """The run's inputs, without Spark (made while the session starts):
    the table's cells with ages made absolute against the run's start,
    their parquet file, and the clients' op streams."""
    run_start = int(time.time() * 1000)
    cells = gen.kv_cells(seed)
    in_path = os.path.join(workdir, "kv_cells.parquet")
    abs_cells = [(r, f, q, run_start - a, t, s, v) for r, f, q, a, t, s, v in cells]
    return {"run_start": run_start, "abs_cells": abs_cells, "in_path": in_path,
            "streams": [gen.kv_ops(seed, c) for c in range(gen.KV_CLIENTS)],
            "info": {"input_cells": len(cells),
                     "input_decoded_bytes": write_cells(in_path, abs_cells)}}


def run(ctx: Context, prep: dict) -> dict:
    from hbase_snapshot_spark.resolve import ResolveSpec
    from hbase_snapshot_spark.table import TableStore

    spark, tr = ctx.spark, ctx.tracer
    info: dict = dict(prep["info"])
    run_start, abs_cells = prep["run_start"], prep["abs_cells"]
    streams, in_path = prep["streams"], prep["in_path"]
    store = TableStore(spark, os.path.join(ctx.workdir, "store"))
    setup_s = []
    for i in range(SETUPS):
        t = time.perf_counter()
        tbl = _load(ctx, store, f"kv{i}", in_path)
        setup_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    _warm_up(ctx, store, "kv0", streams[0])
    info["warm_up_s"] = time.perf_counter() - t
    for i in range(SETUPS - 1):
        store.drop_table(f"kv{i}")
    name = f"kv{SETUPS - 1}"
    bytes0 = tree_bytes(tbl.dir)

    shared = {"lock": threading.Lock(), "written": set(), "reads": [],
              "increments": {}, "cas": [], "compactions": 0, "files_ratio": [],
              "user_bytes": [0] * gen.KV_CLIENTS, "run_start": run_start}
    clients = [_Client(ctx, store, name, streams[c], c, shared)
               for c in range(gen.KV_CLIENTS)]
    log = OpLog()
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds
    threads = [threading.Thread(target=cl.loop, args=(log, deadline), name=f"kv-client-{i}")
               for i, cl in enumerate(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    window_s = time.perf_counter() - t0
    t_checks = time.perf_counter()

    # ---------------------------------------------------- correctness
    checks: list = []
    con = twins.connect()
    twins.register_cells(con, "kvcells", abs_cells)
    cutoff = {"t": run_start - gen.TTL_S * 1000}
    for op, got in shared["reads"]:
        if op["kind"] == "get":
            want = twins.q(con, twins.kv_get_sql("kvcells", op, CAPS, cutoff, run_start))
        else:
            want = twins.q(con, twins.kv_scan_sql("kvcells", op, CAPS, cutoff))
        if sorted(got) != sorted(want):
            check(checks, f"read {op['kind']} {op.get('row', op.get('start'))}", False,
                  f"engine {len(got)} cells, twin {len(want)}")
        else:
            check(checks, f"read {op['kind']}", True)
    from hbase_snapshot_spark.client import Scan

    final = store.table(name)
    ctr = final.client().scan(Scan(start_row=gen.counter_row(0), stop_row="ctr~",
                                   columns={"a": ["n"]}))
    got = {r.row: int(r.value) for r in ctr.select("row", "value").collect()}
    for k in range(gen.KV_COUNTERS):
        row = gen.counter_row(k)
        want = shared["increments"].get(row, 0)
        val = got.get(row, 0)
        check(checks, f"counter {row}", val == want, f"{val} != {want}" if val != want else "")
    cas_bad = [i for i, ok in shared["cas"] if ok is not True]
    check(checks, "check_and_mutate predicted", not cas_bad,
          f"{len(cas_bad)} of {len(shared['cas'])} returned False")
    now = int(time.time() * 1000)
    view = twins.engine_rows(final.read(ResolveSpec(max_versions=None, now=now)))
    twin = twins.q(con, twins.resolve_sql(
        cells_sql=twins.segment_cells_sql(head_parquet_files(final)), max_versions=None,
        family_max_versions=CAPS, ttl_cutoffs={"t": now - gen.TTL_S * 1000}))
    same = twins.rows_hash(view) == twins.rows_hash(twin)
    check(checks, "resolved view == duckdb", same,
          "" if same else f"engine {len(view)} cells, twin {len(twin)}")
    con.close()
    info["checks_s"] = time.perf_counter() - t_checks

    live_bytes = sum(cell_bytes(r, f, q, v) for r, f, q, _ts, v in view)
    space_amp = head_segment_bytes(final) / live_bytes
    user_bytes = sum(shared["user_bytes"])
    write_amp = (tree_bytes(final.dir) - bytes0) / max(1, user_bytes)

    ops = log.ops
    by_kind = lambda k: [o["s"] for o in ops if o["kind"] == k and o["ok"]]  # noqa: E731
    info_metrics = {
        "get_p50_ms": p50_ms(by_kind("get")),
        "scan_p50_ms": p50_ms(by_kind("scan")),
        "reads_validated": float(len(shared["reads"])),
    }
    info["op_counts"] = {k: len(by_kind(k)) for k in CLS}
    layer = {}
    if ctx.trace:
        d = lambda n: p50_ms(tr.durations(n))  # noqa: E731
        layer = {
            "table.client_open_ms": d("table.client_open"),
            "table.cells_for_ranges_ms": d("table.cells_for_ranges"),
            "table.files_read_ratio": median(shared["files_ratio"]) if shared["files_ratio"] else 0.0,
            "table.segments_live": float(len(final.manifest()["segments"])),
            "table.mutate_ms": d("table.mutate"),
            "table.check_and_put_ms": d("table.check_and_put"),
            "table.increment_ms": d("table.increment"),
            "table.maybe_compact_ms": d("table.maybe_compact"),
            "table.compactions": float(shared["compactions"]),
            "table.write_amp": write_amp,
            "client.get.build_ms": d("client.get.build"),
            "client.get.exec_ms": d("client.get.exec"),
            "client.scan.build_ms": d("client.scan.build"),
            "client.scan.exec_ms": d("client.scan.exec"),
            "filters.compile_ms": d("filters.compile"),
        }
        counts = ctx.counters.per_kind()
        for key, kinds in (("get", ("get",)), ("scan", ("scan",)),
                           ("write", ("mutate", "check_and_put",
                                      "check_and_delete", "increment"))):
            jobs = [j for k in kinds for j in counts.get(k, ([], []))[0]]
            tasks = [t for k in kinds for t in counts.get(k, ([], []))[1]]
            layer[f"spark.jobs_per_{key}"] = median(jobs) if jobs else 0.0
            layer[f"spark.tasks_per_{key}"] = median(tasks) if tasks else 0.0
    info.update({"space_amp": space_amp, "write_amp": write_amp,
                 "segments_live": len(final.manifest()["segments"]),
                 "compactions": shared["compactions"]})
    return {"ops": ops, "errors": log.errors, "window_s": window_s,
            "setup_s": setup_s, "space_amp": space_amp, "checks": checks,
            "layer": layer, "info": info, "info_metrics": info_metrics}
