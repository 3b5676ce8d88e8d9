"""DuckDB twins of the engine's reads, and order-insensitive hashes.

Every twin is built with the engine's own SQL generator
(``hbase_snapshot_spark.oracle.resolve_sql``) over cells the generator
produced (or, at end of a kv run, over the table's raw segment files),
so a twin and its engine read share one statement of the semantics.
"""

from __future__ import annotations

import hashlib

import duckdb
from common import cells_table

from hbase_snapshot_spark.oracle import resolve_sql

CELL_COLS = ("row", "family", "qualifier", "ts", "type", "seq", "value")


def connect() -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def register_cells(con, name: str, cells: list[tuple]) -> None:
    """Load (row, family, qualifier, ts, type, seq, value) tuples as a
    DuckDB table."""
    con.register(f"_{name}_arrow", cells_table(cells))
    con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM _{name}_arrow")
    con.unregister(f"_{name}_arrow")


def rows_hash(rows) -> str:
    """sha256 over the sorted tuples: equal iff the multisets are equal."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def engine_rows(df, cols=("row", "family", "qualifier", "ts", "value")):
    """The rows of ``df`` as tuples, fetched as Arrow batches."""
    tbl = df.select(*cols).toArrow()
    return list(zip(*(c.to_pylist() for c in tbl.columns)))


def q(con, sql: str) -> list[tuple]:
    return con.execute(sql).fetchall()


def quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# ------------------------------------------------------------- kv twins

def kv_get_sql(table: str, op: dict, caps: dict, ttl_cutoffs: dict,
               run_start: int) -> str:
    """Twin of ``client.Table.get`` for one generated Get op."""
    time_range = None
    if "age_range" in op:
        hi_age, lo_age = op["age_range"]
        time_range = (run_start - hi_age, run_start - lo_age)
    cols = op.get("columns")
    return resolve_sql(
        cells_sql=f"SELECT * FROM {table} WHERE row = {quote(op['row'])}",
        max_versions=op.get("max_versions", 1),
        family_max_versions=caps, ttl_cutoffs=ttl_cutoffs,
        families=list(cols) if cols else None, columns=cols,
        time_range=time_range)


_SCVF_ROWS = """
row IN (SELECT row FROM (
          SELECT row, value, row_number() OVER (
                   PARTITION BY row ORDER BY ts DESC, seq DESC) AS rn
          FROM live WHERE family = 'a' AND qualifier = 'q0') t
        WHERE rn = 1 AND contains(lower(value), {tag}))
OR row NOT IN (SELECT row FROM live WHERE family = 'a' AND qualifier = 'q0')
"""


def kv_scan_sql(table: str, op: dict, caps: dict, ttl_cutoffs: dict) -> str:
    """Twin of ``client.Table.scan`` over [start, stop) with the op's
    filter (see ``kv_serving.make_filter``)."""
    cells = (f"SELECT * FROM {table} WHERE row >= {quote(op['start'])} "
             f"AND row < {quote(op['stop'])}")
    flt, arg = op["filter"], op["arg"]
    kw: dict = {}
    if flt == "value":
        kw["cell_filter_sql"] = f"contains(lower(value), {quote(arg)})"
    elif flt == "colprefix":
        kw["cell_filter_sql"] = f"starts_with(qualifier, {quote(arg)})"
    elif flt == "prefix":
        kw["cell_filter_sql"] = f"starts_with(row, {quote(arg)})"
    elif flt == "page":
        kw["where"] = (f"row IN (SELECT row FROM (SELECT DISTINCT row FROM live "
                       f"ORDER BY row LIMIT {int(arg)}) pg)")
    elif flt == "scvf":
        kw["where"] = _SCVF_ROWS.format(tag=quote(arg))
    else:
        raise ValueError(f"unknown scan filter {flt!r}")
    return resolve_sql(cells_sql=cells, max_versions=1,
                       family_max_versions=caps, ttl_cutoffs=ttl_cutoffs, **kw)


def segment_cells_sql(files: list[str]) -> str:
    """Raw cells of a table's HEAD segments, read straight from parquet."""
    lst = ", ".join(quote(f) for f in files)
    return (f"SELECT {', '.join(CELL_COLS)} FROM "
            f"read_parquet([{lst}], union_by_name = true)")


# ------------------------------------------------------- analytics twins

def analytics_twins(con, caps: dict, bands, params: dict) -> dict:
    """The analytics query set's expected results, keyed by the query
    names of ``batch_pipeline._queries``: counts as ints, row sets as
    hashes.
    Tables ``an_all`` (HEAD cells) and ``an_old`` (cells of the version
    the diff starts from) must be registered."""
    out = {}
    out["read_count"] = q(con, resolve_sql(
        cells_sql="SELECT * FROM an_all", max_versions=3,
        family_max_versions=caps, select="count(*)"))[0][0]
    out["row_count"] = q(con, resolve_sql(
        cells_sql="SELECT * FROM an_all", max_versions=1,
        family_max_versions=caps, select="count(DISTINCT row)"))[0][0]
    band_pred = " OR ".join(
        f"(row >= {quote(lo)} AND row < {quote(hi)})" for lo, hi in bands)
    out["scan_ranges"] = rows_hash(q(con, resolve_sql(
        cells_sql=f"SELECT * FROM an_all WHERE {band_pred}", max_versions=None,
        family_max_versions=caps)))
    scvf = _SCVF_ROWS.format(tag=quote(params["scvf_tag"])).replace("\n", " ")
    out["filter_scan"] = rows_hash(q(con, resolve_sql(
        cells_sql="SELECT * FROM an_all", max_versions=1,
        family_max_versions=caps,
        where=(f"row IN (SELECT row FROM (SELECT DISTINCT row FROM live "
               f"WHERE {scvf} ORDER BY row LIMIT {params['page']}) pg)"))))
    out["time_range_scan"] = rows_hash(q(con, resolve_sql(
        cells_sql="SELECT * FROM an_all", max_versions=1,
        family_max_versions=caps,
        time_range=(params["time_lo"], params["time_hi"]))))
    out["view_agg"] = rows_hash(q(con, resolve_sql(
        cells_sql="SELECT * FROM an_all", max_versions=None,
        family_max_versions=caps,
        select="family, count(*), sum(length(value))", tail="GROUP BY family")))
    new = resolve_sql(cells_sql="SELECT * FROM an_all", max_versions=None,
                      family_max_versions=caps)
    old = resolve_sql(cells_sql="SELECT * FROM an_old", max_versions=None,
                      family_max_versions=caps)
    out["diff_versions"] = rows_hash(q(con, f"""
        SELECT *, 'added' FROM (SELECT * FROM ({new}) EXCEPT ALL SELECT * FROM ({old}))
        UNION ALL
        SELECT *, 'removed' FROM (SELECT * FROM ({old}) EXCEPT ALL SELECT * FROM ({new}))
    """))
    return out
