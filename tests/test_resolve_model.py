"""Model-based property test: resolve() and the client scan path
(client.Table.scan, whose filter slot is run_scan's stage 3) vs a direct
Python transcription of the reference's per-cell scan loop
(ScanQueryMatcher.match + ScanDeleteTracker + version tracker), on
randomized cell streams.

The Python model walks cells in the exact KeyValue total order
(row asc, family asc, qualifier asc, ts desc, type desc, seq desc —
KeyValue.java:1329) maintaining the delete tracker per (row, family)
store, mirroring the Java control flow line by line.  Any divergence
between the declarative kernel and this imperative model is a bug in
one of them."""

import random

import pytest

from hbase_snapshot_spark.client import Scan, Table
from hbase_snapshot_spark.filters import (
    BinaryComparator,
    CompareOp,
    QualifierFilter,
    TimestampsFilter,
)
from hbase_snapshot_spark.model import KeyType
from hbase_snapshot_spark.resolve import ResolveSpec, resolve
from tests.cells import cells_df


def model_resolve(cells, spec: ResolveSpec, model_pred=None):
    """imperative transcription of the scan stack; ``model_pred`` is the
    Python twin of the scan filter (fn(row,fam,qual,ts,val) -> bool)"""
    ttl_cut = {}
    for fam, ttl_s in (spec.family_ttl or {}).items():
        ttl_cut[fam] = (spec.now or 0) - ttl_s * 1000

    def visible_families(fam):
        return spec.families is None or fam in spec.families

    # sort in KeyValue total order; seq desc mirrors newer-file-first.
    # A DeleteFamily has the EMPTY qualifier, which sorts FIRST in the
    # row ("DelFam come before any other keys", ScanQueryMatcher.java) —
    # so None sorts before every named qualifier here.
    ordered = sorted(
        cells,
        key=lambda c: (c[0], c[1], (c[2] is not None, c[2] or ""), -c[3], -c[4], -c[5]),
    )
    out = []
    # per (row, family): delete tracker state
    for_row_fam = {}
    version_count = {}
    for (row, fam, qual, ts, typ, seq, val) in ordered:
        if not visible_families(fam):
            continue
        if fam in ttl_cut and ts < ttl_cut[fam]:
            continue  # isExpired, before everything (:151-154)
        st = for_row_fam.setdefault((row, fam), {"famdel": None, "coldel": {}, "verdel": set()})
        if typ in KeyType.DELETES:
            # tracked when withinOrAfterTimeRange (ts >= tr.min)
            if spec.time_range is None or ts >= spec.time_range[0]:
                if typ == KeyType.DELETE_FAMILY:
                    if st["famdel"] is None or ts > st["famdel"]:
                        st["famdel"] = ts
                elif typ == KeyType.DELETE_COLUMN:
                    cur = st["coldel"].get(qual)
                    if cur is None or ts > cur:
                        st["coldel"][qual] = ts
                else:
                    st["verdel"].add((qual, ts))
            continue  # deletes are never returned
        # isDeleted checks
        if st["famdel"] is not None and ts <= st["famdel"]:
            continue
        if qual in st["coldel"] and ts <= st["coldel"][qual]:
            continue
        if (qual, ts) in st["verdel"]:
            continue
        # same-coordinate rewrite collapse: the newest-seq Put at a
        # (row,fam,qual,ts) coordinate replaces older ones (MemStore's
        # SkipListMap put-overwrite, KeyValueSkipListSet.java:157-159);
        # the stream is seq-desc within equal coordinates, so the first
        # Put seen wins and later dupes are invisible
        if (qual, ts) in st.setdefault("put_seen", set()):
            continue
        st["put_seen"].add((qual, ts))
        # data time range [min, max)
        if spec.time_range is not None and not (
            spec.time_range[0] <= ts < spec.time_range[1]
        ):
            continue
        # filter slot (cell predicate), before version counting —
        # the caller passes the model twin of the scan filter
        if model_pred is not None and not model_pred(row, fam, qual, ts, val):
            continue
        # qualifier projection (column tracker, after filter slot).
        # A family selected via addFamily but without explicit columns
        # means all columns of that family (familyMap.put(family, null))
        if spec.columns is not None:
            quals = spec.columns.get(fam)
            if quals is None:
                if spec.families is None or fam not in spec.families:
                    continue
            elif qual not in quals:
                continue
        # version counting
        n = spec.max_versions if spec.max_versions is not None else 1 << 31
        if spec.family_max_versions and fam in spec.family_max_versions:
            n = min(n, spec.family_max_versions[fam])
        k = (row, fam, qual)
        version_count[k] = version_count.get(k, 0) + 1
        if version_count[k] > n:
            continue
        out.append((row, fam, qual, ts, val))
    return set(out)


def _random_cells(rng, n_rows=3, n_quals=3, n_ts=4):
    cells = []
    seq = 0
    for _ in range(rng.randrange(8, 28)):
        row = f"r{rng.randrange(n_rows)}"
        fam = rng.choice(["f", "g"])
        qual = f"q{rng.randrange(n_quals)}"
        ts = rng.choice([10, 20, 30, 40][:n_ts])
        typ = rng.choice(
            [KeyType.PUT] * 6
            + [KeyType.DELETE, KeyType.DELETE_COLUMN, KeyType.DELETE_FAMILY]
        )
        seq += 1
        if typ == KeyType.DELETE_FAMILY:
            cells.append((row, fam, None, ts, typ, seq, None))
        elif typ == KeyType.PUT:
            cells.append((row, fam, qual, ts, typ, seq, f"v{seq}"))
        else:
            cells.append((row, fam, qual, ts, typ, seq, None))
    return cells


def _specs():
    """(spec, scan filter, model twin of the filter) triples.  The
    filter runs pre-version-count on both sides
    (ScanQueryMatcher.java:182-187)."""
    return [
        (ResolveSpec(max_versions=1), None, None),
        (ResolveSpec(max_versions=1),
         QualifierFilter(CompareOp.NOT_EQUAL, BinaryComparator("q1")),
         lambda r, f, q, t, v: q != "q1"),
        (ResolveSpec(max_versions=2, time_range=(15, 41)),
         TimestampsFilter([10, 30, 40]),
         lambda r, f, q, t, v: t != 20),
        (ResolveSpec(max_versions=2), None, None),
        (ResolveSpec(max_versions=None), None, None),
        (ResolveSpec(max_versions=None, time_range=(15, 35)), None, None),
        (ResolveSpec(max_versions=1, time_range=(20, 41)), None, None),
        (ResolveSpec(max_versions=2, families=["f"]), None, None),
        (ResolveSpec(max_versions=None, columns={"f": ["q0", "q1"]}), None, None),
        # mixed addFamily + addColumn: g fully, f only q0
        (ResolveSpec(max_versions=1, families=["f", "g"],
                     columns={"f": ["q0"]}), None, None),
        (ResolveSpec(max_versions=2, family_max_versions={"f": 1, "g": 3}),
         None, None),
        (ResolveSpec(max_versions=None, family_ttl={"f": 10}, now=25_000),
         None, None),
        # everything at once: TTL + time range + family caps + projection
        (ResolveSpec(max_versions=2, time_range=(15, 41),
                     family_max_versions={"g": 1},
                     family_ttl={"f": 10}, now=25_000,
                     families=["f", "g"], columns={"g": ["q0"]}), None, None),
    ]


_COLS = ("row", "family", "qualifier", "ts", "value")


def _scan(spec: ResolveSpec, flt) -> Scan:
    return Scan(max_versions=spec.max_versions, time_range=spec.time_range,
                families=spec.families, columns=spec.columns, filter=flt,
                family_max_versions=spec.family_max_versions,
                family_ttl=spec.family_ttl, now=spec.now)


@pytest.mark.parametrize("trial", range(8))
def test_resolve_matches_imperative_model(spark, trial):
    from pyspark.sql import functions as F

    rng = random.Random(1000 + trial)
    cells = _random_cells(rng)
    df = cells_df(spark, cells)
    # resolve() has no filter slot: it checks each distinct spec once,
    # unfiltered; the scan path checks every spec with its filter
    runs, resolved = [], []
    for i, (spec, flt, model_pred) in enumerate(_specs()):
        if spec not in resolved:
            resolved.append(spec)
            runs.append((i, "resolve", spec, None, resolve(df, spec=spec),
                         model_resolve(cells, spec)))
        runs.append((i, "scan", spec, flt, Table(df).scan(_scan(spec, flt)),
                     model_resolve(cells, spec, model_pred)))
    # one Spark job per trial: every run's cells, tagged with its index
    tagged = runs[0][4].select(F.lit(0).alias("_run"), *_COLS)
    for k, run in enumerate(runs[1:], 1):
        tagged = tagged.unionAll(run[4].select(F.lit(k).alias("_run"), *_COLS))
    got = {k: set() for k in range(len(runs))}
    for r in tagged.collect():
        got[r._run].add(tuple(r)[1:])
    for k, (i, path, spec, flt, _, want) in enumerate(runs):
        assert got[k] == want, (
            f"divergence trial={trial} spec#{i}={spec} filter={flt} "
            f"path={path}\nonly-engine={got[k] - want}\n"
            f"only-model={want - got[k]}\ncells={cells}"
        )
