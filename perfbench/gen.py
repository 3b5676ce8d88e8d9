"""Seeded input generator for every benchmark workload.

Everything the engine sees is produced here from ``--seed``: the kv
table and the per-client op streams, the analytics table with its WAL
batches and scan bands, the ETL TSV with its append batches, and the
WARC corpus.  The generator uses only the standard library and numpy,
never engine code, so a change to the engine cannot change its inputs;
the same seed gives byte-identical inputs (``digest`` pins that).

Timestamps of the kv table are stored as ``age_ms`` (milliseconds
before the run's start) so that TTL expiry covers the same cells in
every run; the other tables use the fixed ``BASE_TS`` epoch because no
TTL applies to them.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import random

import numpy as np

PUT, DELETE, DELETE_COLUMN, DELETE_FAMILY = 4, 8, 12, 14

HOUR_MS = 3_600_000
TTL_S = 86_400                  # family ``t`` of the kv table
BASE_TS = 1_700_000_000_000     # epoch of the analytics and ETL tables

# ------------------------------------------------------------------ sizes
KV_ROWS = 5_000
KV_COUNTERS = 16
KV_CAS_ROWS = 8                 # check-and-mutate rows owned by each client
KV_OPS_PER_CLIENT = 4_000       # far more than one run can issue
KV_CLIENTS = 2
KV_SCAN_ROWS = 100

AN_ROWS = 5_000
AN_WAL_BATCHES = 8
AN_WAL_CELLS = 1_000
AN_BANDS = 200

ETL_ROWS = 2_000
ETL_APPEND_BATCHES = 8
ETL_APPEND_CELLS = 750

CORPUS_DOCS = 300
CORPUS_FILES = 2

# the values carry one of these tags so value / column-value filters
# have something to match
TAGS = ("red", "green", "blue", "amber", "slate", "ochre", "teal", "plum")
SCAN_FILTERS = ("scvf", "prefix", "value", "page", "colprefix")


def kv_row(i: int) -> str:
    return f"r{i:06d}"


def counter_row(k: int) -> str:
    return f"ctr{k:02d}"


def cas_row(client: int, k: int) -> str:
    return f"cas{client}-{k:02d}"


def an_row(i: int) -> str:
    return f"a{i:07d}"


class _Text:
    """Deterministic value bytes: slices of one seeded random blob."""

    def __init__(self, rng: random.Random, size: int = 1 << 16):
        alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
        self.blob = "".join(rng.choices(alphabet, k=size))
        self.rng = rng

    def value(self, lo: int, hi: int) -> str:
        n = self.rng.randint(lo, hi)
        tag = self.rng.choice(TAGS)
        off = self.rng.randrange(len(self.blob) - n)
        return (tag + ":" + self.blob[off:off + n])[:n]


def _zipf_sampler(seed: int, n: int, s: float = 1.1):
    """Finite Zipf(s) over ``n`` keys, hot keys scattered by a seeded
    permutation so popularity is not correlated with key order."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, n + 1) ** s
    p /= p.sum()
    perm = rng.permutation(n)

    def draw(k: int) -> list[int]:
        return [int(perm[i]) for i in rng.choice(n, size=k, p=p)]

    return draw


def _distinct_ages(rng: random.Random, k: int, lo_h: float, hi_h: float,
                   gap=None) -> list[int]:
    """``k`` distinct ages (ms, whole seconds) in [lo_h, hi_h) hours,
    skipping the ``gap`` hour window (kept clear around a TTL cutoff)."""
    out: set[int] = set()
    while len(out) < k:
        a = rng.randrange(int(lo_h * 3600), int(hi_h * 3600)) * 1000
        if gap and gap[0] * HOUR_MS <= a < gap[1] * HOUR_MS:
            continue
        out.add(a)
    return sorted(out)


def _versioned_cells(rng, text, rows, families, age_fn, tombstone_share,
                     value_len):
    """Generic versioned cell set: 2-4 qualifiers per family, 1-3
    versions per cell, ``tombstone_share`` of cells followed by a
    tombstone of one of the three delete kinds."""
    out = []
    for row in rows:
        for fam in families:
            fam_ages = []
            for q in range(rng.randint(2, 4)):
                qual = f"q{q}"
                ages = age_fn(rng.randint(1, 3))
                fam_ages += ages
                for a in ages:
                    out.append((row, fam, qual, a, PUT, text.value(*value_len)))
                if rng.random() < tombstone_share:
                    kind = rng.choice((DELETE, DELETE_COLUMN))
                    out.append((row, fam, qual, rng.choice(ages), kind, None))
            if rng.random() < tombstone_share / 2:
                out.append((row, fam, None, rng.choice(fam_ages),
                            DELETE_FAMILY, None))
    return out


# --------------------------------------------------------------- kv_serving

def kv_cells(seed: int) -> list[tuple]:
    """(row, family, qualifier, age_ms, type, seq, value) of the kv table:
    families ``a`` (maxVersions 3, replication scope 1), ``b`` (maxVersions
    1) and ``t`` (TTL 1 day); ~5 % tombstones; 50-200 B values.  Ages
    avoid the hour on either side of the TTL cutoff, so no cell expires
    while a run is measuring."""
    rng = random.Random(f"kv-cells-{seed}")
    text = _Text(rng)
    cells = _versioned_cells(
        rng, text, [kv_row(i) for i in range(KV_ROWS)], ("a", "b", "t"),
        lambda k: _distinct_ages(rng, k, 1, 47, gap=(23, 25)),
        tombstone_share=0.10, value_len=(50, 200))
    return [(r, f, q, a, t, i + 1, v) for i, (r, f, q, a, t, v) in enumerate(cells)]


def _cycle(rng: random.Random, items):
    """Endless draws from ``items``, reshuffled every pass, so each run of
    ``len(items)`` draws holds every item exactly once."""
    while True:
        order = list(items)
        rng.shuffle(order)
        yield from order


def kv_ops(seed: int, client: int, n: int = KV_OPS_PER_CLIENT) -> list[dict]:
    """The closed-loop op stream of one kv client.

    Mix: 50 % Get (one in five with columns, maxVersions 3 and a time
    range), 15 % Scan of ``KV_SCAN_ROWS`` rows with one filter, 5 %
    getRowOrBefore / exists, 20 % mutate batches of 1-20 Puts and
    Deletes of every kind, 5 % checkAndPut / checkAndDelete, 5 %
    increment on the hot counters; a ``compact`` (maybe_compact) op
    follows every write.  Keys are Zipf(1.1); 30 % of reads target the
    client's last 100 written rows.  Time ranges are relative ages.

    Every choice that changes an op's cost — op kind, Get shape, scan
    filter, batch size, delete kind — is drawn from a shuffled cycle, so
    seeds differ in keys, values and order but a run of any length
    holds nearly the same work whatever the seed."""
    rng = random.Random(f"kv-ops-{seed}-{client}")
    text = _Text(rng)
    zipf = _zipf_sampler(seed * 7919 + client, KV_ROWS)
    pool: list[int] = []

    def key() -> int:
        if not pool:
            pool.extend(zipf(4096))
        return pool.pop()

    kinds = _cycle(rng, ["get"] * 10 + ["scan"] * 3 + ["point"]
                   + ["mutate"] * 4 + ["cas", "incr"])
    get_shape = _cycle(rng, ["plain"] * 4 + ["columns"])
    recent_read = _cycle(rng, [True] * 3 + [False] * 7)
    filters = _cycle(rng, SCAN_FILTERS)
    points = _cycle(rng, ("row_before", "exists"))
    sizes = _cycle(rng, (1, 5, 10, 15, 20))
    put_cells = _cycle(rng, (1, 2, 3))
    del_kinds = _cycle(rng, ("row", "family", "columns", "column"))
    recent: list[str] = []
    cas_val: dict[str, "str | None"] = {}
    ops: list[dict] = []

    def read_row() -> str:
        if next(recent_read) and recent:
            return rng.choice(recent[-100:])
        return kv_row(key())

    while len(ops) < n:
        kind = next(kinds)
        if kind == "get":
            op = {"kind": "get", "row": read_row()}
            if next(get_shape) == "columns":
                fam = rng.choice(("a", "b", "t"))
                op["columns"] = {fam: sorted(rng.sample(["q0", "q1", "q2"], 2))}
                op["max_versions"] = 3
                op["age_range"] = (rng.randint(30, 40) * HOUR_MS, -HOUR_MS)
            ops.append(op)
        elif kind == "scan":
            start = rng.randrange(KV_ROWS - KV_SCAN_ROWS)
            if next(recent_read) and recent:
                start = min(int(rng.choice(recent[-100:])[1:]),
                            KV_ROWS - KV_SCAN_ROWS)
            flt = next(filters)
            op = {"kind": "scan", "start": kv_row(start),
                  "stop": kv_row(start + KV_SCAN_ROWS), "filter": flt}
            if flt == "prefix":
                op["arg"] = kv_row(start + rng.randrange(KV_SCAN_ROWS))[:-1]
            elif flt in ("scvf", "value"):
                op["arg"] = rng.choice(TAGS)
            elif flt == "page":
                op["arg"] = rng.randint(5, 30)
            else:
                op["arg"] = rng.choice(("q0", "q1", "q2"))
            ops.append(op)
        elif kind == "point":
            ops.append({"kind": next(points), "row": read_row()})
        elif kind == "mutate":
            size = next(sizes)
            n_del = round(0.4 * size)
            muts = []
            for is_put in rng.sample([True] * (size - n_del) + [False] * n_del, size):
                row = kv_row(key())
                recent.append(row)
                if is_put:
                    puts = [(rng.choice(("a", "b", "t")), f"q{rng.randrange(4)}",
                             text.value(50, 200))
                            for _ in range(next(put_cells))]
                    muts.append({"type": "put", "row": row, "cells": puts})
                    continue
                dk = next(del_kinds)
                d = {"type": "delete", "kind": dk, "row": row}
                if dk != "row":
                    d["family"] = rng.choice(("a", "b", "t"))
                if dk in ("columns", "column"):
                    d["qualifier"] = f"q{rng.randrange(4)}"
                muts.append(d)
            ops.append({"kind": "mutate", "mutations": muts})
            ops.append({"kind": "compact"})
        elif kind == "cas":
            row = cas_row(client, rng.randrange(KV_CAS_ROWS))
            cur = cas_val.get(row)
            if cur is not None and rng.random() < 0.3:
                ops.append({"kind": "check_and_delete", "row": row,
                            "expected": cur})
                cas_val[row] = None
            else:
                new = text.value(50, 120)
                ops.append({"kind": "check_and_put", "row": row,
                            "expected": cur, "value": new})
                cas_val[row] = new
            ops.append({"kind": "compact"})
        else:
            ops.append({"kind": "increment",
                        "row": counter_row(rng.randrange(KV_COUNTERS))})
            ops.append({"kind": "compact"})
    return ops[:n]


# ----------------------------------------------------------- analytics scan

def analytics_cells(seed: int) -> tuple[list[tuple], list[list[tuple]]]:
    """(bulk cells, WAL batches) of the analytics table: families ``a``
    (maxVersions 3) and ``b`` (maxVersions 1), absolute ``ts``.  The
    bulk segment is 10-48 h older than ``BASE_TS``; WAL batch ``k`` sits
    in hour ``k`` of the last ``AN_WAL_BATCHES`` hours and rewrites or
    deletes cells of random rows."""
    rng = random.Random(f"an-cells-{seed}")
    text = _Text(rng)
    bulk = _versioned_cells(
        rng, text, [an_row(i) for i in range(AN_ROWS)], ("a", "b"),
        lambda k: [BASE_TS - a for a in _distinct_ages(rng, k, 10, 48)],
        tombstone_share=0.06, value_len=(60, 240))
    seq = 1
    bulk_out = []
    for r, f, q, ts, t, v in bulk:
        bulk_out.append((r, f, q, ts, t, seq, v))
        seq += 1
    wal = []
    for k in range(AN_WAL_BATCHES):
        lo = BASE_TS - (AN_WAL_BATCHES - k) * HOUR_MS
        batch = []
        for _ in range(AN_WAL_CELLS):
            row = an_row(rng.randrange(AN_ROWS))
            fam = rng.choice(("a", "b"))
            ts = lo + rng.randrange(HOUR_MS // 1000) * 1000
            u = rng.random()
            if u < 0.9:
                batch.append((row, fam, f"q{rng.randrange(4)}", ts, PUT, seq,
                              text.value(60, 240)))
            elif u < 0.97:
                batch.append((row, fam, f"q{rng.randrange(4)}", ts,
                              DELETE_COLUMN, seq, None))
            else:
                batch.append((row, fam, None, ts, DELETE_FAMILY, seq, None))
            seq += 1
        wal.append(batch)
    return bulk_out, wal


def analytics_bands(seed: int) -> list[tuple[str, str]]:
    """``AN_BANDS`` sorted, disjoint, half-open row bands of 5-20 rows."""
    rng = random.Random(f"an-bands-{seed}")
    starts = sorted(rng.sample(range(0, AN_ROWS - 20, 20), AN_BANDS))
    return [(an_row(s), an_row(s + rng.randint(5, 20))) for s in starts]


def analytics_params(seed: int) -> dict:
    """Query parameters: the filter-scan tag and page size, and the
    time-range floor (start of the second-newest WAL hour)."""
    rng = random.Random(f"an-params-{seed}")
    return {
        "scvf_tag": rng.choice(TAGS),
        "page": rng.randint(100, 200),
        "time_lo": BASE_TS - 2 * HOUR_MS,
        "time_hi": BASE_TS + HOUR_MS,
    }


# ------------------------------------------------------------ etl pipeline

def etl_tsv(seed: int) -> str:
    """TSV text: row key + three ``a`` and three ``b`` columns."""
    rng = random.Random(f"etl-tsv-{seed}")
    text = _Text(rng)
    lines = []
    for i in range(ETL_ROWS):
        vals = [text.value(20, 80) for _ in range(6)]
        lines.append("\t".join([f"e{i:06d}"] + vals))
    return "\n".join(lines) + "\n"


ETL_TSV_COLUMNS = ["HBASE_ROW_KEY", "a:q0", "a:q1", "a:q2", "b:q0", "b:q1", "b:q2"]


def etl_batches(seed: int) -> list[list[tuple]]:
    """``ETL_APPEND_BATCHES`` WAL batches of puts and tombstones on the
    TSV's rows, each one hour newer than the last."""
    rng = random.Random(f"etl-batches-{seed}")
    text = _Text(rng)
    out = []
    seq = 1 << 40
    for k in range(ETL_APPEND_BATCHES):
        lo = BASE_TS + (k + 1) * HOUR_MS
        batch = []
        for _ in range(ETL_APPEND_CELLS):
            row = f"e{rng.randrange(ETL_ROWS):06d}"
            fam = rng.choice(("a", "b"))
            ts = lo + rng.randrange(HOUR_MS // 1000) * 1000
            if rng.random() < 0.92:
                batch.append((row, fam, f"q{rng.randrange(3)}", ts, PUT, seq,
                              text.value(20, 80)))
            else:
                batch.append((row, fam, f"q{rng.randrange(3)}", ts,
                              DELETE_COLUMN, seq, None))
            seq += 1
        out.append(batch)
    return out


# ----------------------------------------------------------- corpus ingest

_WORDS = (
    "the of and to in is was for on that with as by at from his her are "
    "this have had not but were which their been one all would there can "
    "more when who will also into time only new some could these may "
    "first after other than then over people years most made between "
    "through during many such before because world water system river "
    "city market history music school state family company research "
    "process government number report science energy public network"
).split()


def corpus_docs(seed: int) -> list[tuple[int, str]]:
    """(doc_id, text) documents of 40-400 English-like words; ~8 % are
    exact repeats of an earlier document and ~5 % are too short or
    low-quality to survive the pipeline's gates."""
    rng = random.Random(f"corpus-{seed}")
    docs: list[tuple[int, str]] = []
    for i in range(CORPUS_DOCS):
        u = rng.random()
        if docs and u < 0.08:
            text = rng.choice(docs)[1]
        elif u < 0.13:
            text = " ".join(rng.choices(["zz", "qq", "xx"], k=rng.randint(2, 6)))
        else:
            sents = []
            for _ in range(rng.randint(4, 30)):
                w = rng.choices(_WORDS, k=rng.randint(6, 16))
                sents.append(" ".join(w).capitalize() + ".")
            text = " ".join(sents)
        docs.append((1000 + i, text))
    return docs


def _warc_record(doc_id: int, text: str) -> bytes:
    body = (f"<html><head><title>bench</title></head>"
            f"<body><p>{text}</p></body></html>").encode()
    block = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
             b"\r\n\r\n" + body)
    head = (f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:doc-{doc_id}>\r\n"
            f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"WARC-Target-URI: http://bench.example/doc/{doc_id}\r\n"
            f"Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(block)}\r\n\r\n").encode()
    raw = head + block + b"\r\n\r\n"
    buf = io.BytesIO()
    # mtime=0: the member header carries no wall-clock time
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(raw)
    return buf.getvalue()


def warc_archives(seed: int) -> list[bytes]:
    """The corpus as ``CORPUS_FILES`` member-per-record ``.warc.gz``
    archives (documents dealt round-robin)."""
    files = [bytearray() for _ in range(CORPUS_FILES)]
    for i, (doc_id, text) in enumerate(corpus_docs(seed)):
        files[i % CORPUS_FILES] += _warc_record(doc_id, text)
    return [bytes(f) for f in files]


# ------------------------------------------------------------------ digest

def digest(seed: int) -> str:
    """sha256 over every generated input of ``seed``."""
    h = hashlib.sha256()
    parts = [kv_cells(seed)]
    parts += [kv_ops(seed, c, 500) for c in range(KV_CLIENTS)]
    bulk, wal = analytics_cells(seed)
    parts += [bulk, wal, analytics_bands(seed), analytics_params(seed),
              etl_tsv(seed), etl_batches(seed)]
    for p in parts:
        h.update(repr(p).encode())
    for f in warc_archives(seed):
        h.update(f)
    return h.hexdigest()
