"""CLI — the reference's job Driver (mapreduce/Driver.java:46) plus the
admin/DML surface of the JRuby shell (src/main/ruby/, 29 commands).

Usage:  python -m hbase_snapshot_spark.cli <command> [args...]

Commands (reference analogue in parens):
  create <base> <table> <family[:maxVersions[:ttl]]>...   (shell create)
  drop <base> <table>                                     (shell drop)
  list <base>                                             (shell list)
  describe <base> <table>                                 (shell describe)
  alter <base> <table> <family:maxVersions[:ttl]>         (shell alter)
  put <base> <table> <row> <family:qualifier> <value> [ts]   (shell put)
  get <base> <table> <row> [family:qualifier]             (shell get)
  delete <base> <table> <row> [family:qualifier] [ts]     (shell delete)
  deleteall <base> <table> <row>                          (shell deleteall)
  incr <base> <table> <row> <family:qualifier> [amount]   (shell incr)
  get_counter <base> <table> <row> <family:qualifier>     (shell get_counter)
  scan <base> <table> [--limit N] [--start R] [--stop R]  (shell scan)
  count <base> <table>                                    (shell count / RowCounter)
  truncate <base> <table>                                 (shell truncate)
  snapshot <base> <table> <name> [--store]                (HBaseAdmin.snapshot;
                                  --store = cluster-scope registry that
                                  survives table deletion)
  list_snapshots <base> [table]
  restore_snapshot <base> <name>          (store scope: recreates a dropped table)
  restore_snapshot <base> <table> <name>  (table scope: in-place rollback)
  delete_snapshot <base> [table] <name>
  compact <base> <table> [--major]                        (shell major_compact)
  importtsv <base> <table> <tsv> <colspec,...>            (Driver importtsv)
  export <base> <table> <out_dir> [--versions N]          (Driver export)
  import <base> <table> <in_dir>                          (Driver import)
  copytable <base> <src> <dst>                            (Driver copytable)
  rowcounter <base> <table>                               (Driver rowcounter)
  completebulkload <base> <table> <prepared_dir>          (Driver completebulkload)
  enable <base> <table>                                   (shell enable)
  disable <base> <table>                                  (shell disable)
  is_enabled <base> <table>                               (shell is_enabled)
  status <base> [table]                                   (shell status)
  history <base> <table>                                  (manifest versions)
  diff <base> <table> <old_v> [new_v]                     (resolved-view diff)
  query <base> "<sql>"                                    (shell scan generalized:
                                                           every table is a view,
                                                           raw cells as <name>_cells)
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from hbase_snapshot_spark.client import Get, Scan
from hbase_snapshot_spark.model import FOREVER, FamilyDescriptor, TableDescriptor
from hbase_snapshot_spark.resolve import compose
from hbase_snapshot_spark.sources import tools
from hbase_snapshot_spark.table import Delete, Put, TableStore


def _spark() -> SparkSession:
    return (
        SparkSession.builder.master("local[*]")
        .appName("hbase-snapshot-spark-cli")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def _fq(s: str) -> tuple[str, str]:
    fam, _, qual = s.partition(":")
    return fam, qual


class UsageError(Exception):
    """Bad command line — printed as a usage error, exit code 2."""


def _parse_flags(rest: list[str], allowed: set[str]) -> dict[str, str]:
    """--flag value pairs → dict, rejecting unknown flags and flags with
    a missing value (a typo'd 'get b t r --version 3' must error, not
    silently return 1 version)."""
    if len(rest) % 2 != 0:
        raise UsageError(f"flag {rest[-1]!r} is missing a value")
    opts = dict(zip(rest[::2], rest[1::2]))
    for flag in opts:
        if flag not in allowed:
            raise UsageError(
                f"unknown flag {flag!r} (expected one of {sorted(allowed)})"
            )
    return opts


def _print_cells(df, limit=None):
    # full KeyValue order incl. newest-version-first so multi-version
    # output (and --limit truncation) is deterministic across runs
    it = df.orderBy(
        "row", "family", "qualifier", df["ts"].desc(), df["seq"].desc()
    ).toLocalIterator()
    n = 0
    for r in it:
        print(f"{r.row}  column={r.family}:{r.qualifier}, timestamp={r.ts}, value={r.value}")
        n += 1
        if limit is not None and n >= limit:
            break
    print(f"{n} cell(s)")


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv:
        print(__doc__)
        return 2
    cmd, *args = argv
    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")

    def store(base: str) -> TableStore:
        return TableStore(spark, base)

    if cmd == "create":
        base, name, *fams = args
        desc = TableDescriptor(name)
        for f in fams:
            parts = f.split(":")
            fd = FamilyDescriptor(parts[0])
            if len(parts) > 1:
                fd.max_versions = int(parts[1])
            if len(parts) > 2:
                fd.ttl = int(parts[2]) if parts[2] else FOREVER
            desc.add_family(fd)
        store(base).create_table(desc)
        print(f"created {name}")
    elif cmd == "drop":
        store(args[0]).drop_table(args[1])
        print(f"dropped {args[1]}")
    elif cmd == "list":
        for t in store(args[0]).list_tables():
            print(t)
    elif cmd == "describe":
        import json

        print(json.dumps(store(args[0]).table(args[1]).descriptor.to_dict(), indent=1))
    elif cmd == "put":
        base, name, row, fq, value, *rest = args
        fam, qual = _fq(fq)
        ts = int(rest[0]) if rest else None
        store(base).table(name).mutate([Put(row).add(fam, qual, value, ts=ts)])
        print("ok")
    elif cmd == "get":
        # shell get defaults to VERSIONS => 1 (get.rb); --versions N for
        # more.  The optional column positional is consumed first, then
        # --flag pairs parse wherever they appear — 'get b t r f:q
        # --versions 3' honors the flag.
        base, name, row, *rest = args
        column = None
        if rest and not rest[0].startswith("--"):
            column = rest[0]
            rest = rest[1:]
        try:
            opts = _parse_flags(rest, {"--versions"})
        except UsageError as ex:
            print(f"usage error: {ex}", file=sys.stderr)
            return 2
        maxv = int(opts.get("--versions", 1))
        g = Get(row, max_versions=maxv if maxv > 0 else None)
        if column is not None:
            fam, qual = _fq(column)
            g.columns = {fam: [qual]}
        _print_cells(store(base).table(name).client().get(g))
    elif cmd == "delete":
        base, name, row, *rest = args
        d = Delete(row)
        if rest:
            fam, qual = _fq(rest[0])
            ts = int(rest[1]) if len(rest) > 1 else None
            d.delete_column(fam, qual, ts=ts)
        store(base).table(name).mutate([d])
        print("ok")
    elif cmd == "deleteall":
        store(args[0]).table(args[1]).mutate([Delete(args[2])])
        print("ok")
    elif cmd == "incr":
        base, name, row, fq, *rest = args
        fam, qual = _fq(fq)
        amount = int(rest[0]) if rest else 1
        v = store(base).table(name).increment_column_value(row, fam, qual, amount)
        print(f"COUNTER VALUE = {v}")
    elif cmd == "get_counter":
        base, name, row, fq = args
        fam, qual = _fq(fq)
        t = store(base).table(name)
        cur = t._latest_cell(row, fam, qual)
        if cur is None:
            val = 0
        elif t.manifest()["binary"]:
            # binary tables pack counters as 8-byte big-endian
            from hbase_snapshot_spark import bytes_util

            val = bytes_util.to_long(bytes(cur.value))
        else:
            val = int(cur.value)
        print(f"COUNTER VALUE = {val}")
    elif cmd == "scan":
        base, name, *rest = args
        try:
            opts = _parse_flags(
                rest, {"--versions", "--start", "--stop", "--limit"}
            )
        except UsageError as ex:
            print(f"usage error: {ex}", file=sys.stderr)
            return 2
        # shell scan defaults to VERSIONS => 1 (scan.rb); --versions N
        maxv = int(opts.get("--versions", 1))
        s = Scan(
            start_row=opts.get("--start"),
            stop_row=opts.get("--stop"),
            max_versions=maxv if maxv > 0 else None,
        )
        limit = int(opts["--limit"]) if "--limit" in opts else None
        _print_cells(store(base).table(name).client().scan(s), limit=limit)
    elif cmd in ("count", "rowcounter"):
        print(store(args[0]).table(args[1]).client().row_count())
    elif cmd == "alter":
        # alter <base> <table> <family:maxVersions[:ttl]>
        st = store(args[0])
        t = st.table(args[1])
        desc = t.descriptor
        parts = args[2].split(":")
        fam = desc.family(parts[0])
        if len(parts) > 1 and parts[1]:
            fam.max_versions = int(parts[1])
        if len(parts) > 2 and parts[2]:
            fam.ttl = int(parts[2])
        t.alter(desc)
        print("ok")
    elif cmd == "truncate":
        st = store(args[0])
        desc = st.table(args[1]).descriptor
        st.drop_table(args[1])
        st.create_table(desc)
        print("truncated")
    elif cmd == "snapshot":
        # --store = the cluster-scope registry (survives table drop,
        # TestAdmin:619); default = in-place table-scope snapshot
        if "--store" in args:
            a = [x for x in args if x != "--store"]
            store(a[0]).snapshot(a[2], a[1])
        else:
            store(args[0]).table(args[1]).snapshot(args[2])
        print("ok")
    elif cmd == "list_snapshots":
        src = store(args[0])
        snaps = (src.table(args[1]).list_snapshots() if len(args) > 1
                 else src.list_snapshots())
        for s in snaps:
            print(s)
    elif cmd == "restore_snapshot":
        if len(args) == 2:  # store scope: recreate the dropped table
            store(args[0]).restore_snapshot(args[1])
        else:
            store(args[0]).table(args[1]).restore_snapshot(args[2])
        print("ok")
    elif cmd == "delete_snapshot":
        if len(args) == 2:
            store(args[0]).delete_snapshot(args[1])
        else:
            store(args[0]).table(args[1]).delete_snapshot(args[2])
        print("ok")
    elif cmd == "compact":
        store(args[0]).table(args[1]).compact(major="--major" in args)
        print("ok")
    elif cmd == "importtsv":
        base, name, tsv, colspec = args
        cells = tools.import_tsv(spark, tsv, colspec.split(","))
        v = store(base).table(name).append_cells(cells)
        print(f"committed v{v}")
    elif cmd == "export":
        base, name, out, *rest = args
        versions = int(rest[rest.index("--versions") + 1]) if "--versions" in rest else 1
        t = store(base).table(name)
        caps = compose(t.descriptor)
        tools.export_table(
            t.cells(), out, max_versions=versions,
            family_ttl=caps.family_ttl,
            family_max_versions=caps.family_max_versions,
        )
        print("ok")
    elif cmd == "import":
        v = tools.import_cells(spark, args[2], store(args[0]).table(args[1]))
        print(f"committed v{v}")
    elif cmd == "copytable":
        st = store(args[0])
        src = st.table(args[1])
        tools.copy_table(src.cells(), st.table(args[2]),
                         family_ttl=compose(src.descriptor).family_ttl)
        print("ok")
    elif cmd == "completebulkload":
        v = store(args[0]).table(args[1]).adopt_segment(args[2])
        print(f"committed v{v}")
    elif cmd == "enable":
        store(args[0]).table(args[1]).enable()
        print("ok")
    elif cmd == "disable":
        store(args[0]).table(args[1]).disable()
        print("ok")
    elif cmd == "is_enabled":
        print("true" if store(args[0]).table(args[1]).is_enabled() else "false")
    elif cmd == "status":
        # shell status ('simple' detail): per-table serving state +
        # storage metrics from the manifest — the closest meaningful
        # analogue of regionserver load without a cluster
        st = store(args[0])
        names = [args[1]] if len(args) > 1 else st.list_tables()
        print(f"{len(names)} table(s) under {args[0]}")
        for name in names:
            t = st.table(name)
            m = t.manifest()
            nbytes = sum(t._segment_size(s) for s in m["segments"])
            state = "ENABLED" if t.is_enabled() else "DISABLED"
            print(
                f"  {name}: {state}  v{m['version']}  "
                f"commit_seq={m['commit_seq']}  "
                f"segments={len(m['segments'])}  bytes={nbytes}  "
                f"snapshots={len(t.list_snapshots())}"
            )
    elif cmd == "history":
        for h in store(args[0]).table(args[1]).history():
            print(f"v{h['version']}  commit_seq={h['commit_seq']}  segments={h['n_segments']}")
    elif cmd == "diff":
        # diff <base> <table> <old_version> [new_version]
        oldv = int(args[2])
        newv = int(args[3]) if len(args) > 3 else None
        df = store(args[0]).table(args[1]).diff_versions(oldv, newv)
        n = 0
        for r in df.orderBy("row", "family", "qualifier",
                            df["ts"].desc(), "change").toLocalIterator():
            print(f"{r.change:8s} {r.row}  column={r.family}:{r.qualifier}, "
                  f"timestamp={r.ts}, value={r.value}")
            n += 1
        print(f"{n} change(s)")
    elif cmd == "query":
        # ad-hoc SQL over every table's resolved view (+ _cells raw
        # streams) — the shell's scan generalized to full SQL
        store(args[0]).register_sql_views()
        for row in spark.sql(args[1]).collect():
            print("\t".join("" if v is None else str(v) for v in row))
    else:
        print(f"unknown command: {cmd}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
