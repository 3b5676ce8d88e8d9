"""Reproducible training-shard sink: deterministic sharded corpus
output with a verifiable manifest.

The last step of a training-data pipeline is writing the corpus as N
shards a data loader streams — and the property that matters at 100 TB
is REPRODUCIBILITY: the same corpus + seed must yield the same shard
assignment and intra-shard order on any cluster size, and a re-run (or
a resumed job) must be verifiable against the manifest without eyeball
diffs.

``write_training_shards`` composes ``sampling.shard_shuffle`` (one hash
Exchange, no global sort — the plan is identical at 1 GB and 100 TB)
with a ``partitionBy('shard')`` writer, then computes a per-shard
manifest in ONE aggregation pass: row count + an order-insensitive
64-bit content checksum plus a wraparound-free hash SUM.  Each row
hashes as ``xxhash64(to_json(struct(*cols)))`` — the JSON tags column
names and omits NULL fields, so a value shifted into a different
column changes the hash (raw ``xxhash64(*cols)`` SKIPS null inputs:
('x', NULL) and (NULL, 'x') hashed identically).  The xor is
order-insensitive but cancels even-count duplicate sets (substituting
duplicate pair A,A for C,C kept xor AND n_rows unchanged), so the
manifest also carries ``hashsum`` — the decimal(38) SUM of the row
hashes, which such a substitution cannot preserve.
``verify_training_shards`` recomputes all three from the written
files and diffs against the manifest (legacy manifests without
``hashsum`` verify on count+xor only).

The manifest file itself publishes atomically via
``table.write_json_atomic`` on the DRIVER-LOCAL filesystem —
point ``path`` at storage the driver can open() (local disk, a
fuse/NFS mount); the parquet shards themselves go through Spark's
filesystem layer and take any URI.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_snapshot_spark.operators.sampling import shard_shuffle
from hbase_snapshot_spark.table import write_json_atomic

MANIFEST_NAME = "_shard_manifest.json"


#: manifest hash-format version written by THIS build.  v2 =
#: xxhash64(to_json(struct(cols))) + hashsum companion; v1 (legacy) =
#: raw xxhash64(*cols), xor only.  The version rides in the manifest so
#: verification replays the formula the manifest was WRITTEN with — the
#: v1→v2 formula change otherwise false-failed every pre-existing shard
#: directory with 'checksum mismatch' on intact data.
HASH_FORMAT = 2


def _shard_stats(
    df: DataFrame, cols: list[str], hash_format: int = HASH_FORMAT
) -> DataFrame:
    """(shard, n_rows, checksum[, hashsum]) in one map-side-combinable
    agg.  See the module docstring for why the v2 row hash goes through
    to_json (null/column-shift awareness) and why the xor has a sum
    companion (even-count duplicate cancellation).  ``hash_format=1``
    replays the legacy raw-column hash so old manifests verify against
    the formula that produced them (no hashsum — v1 never recorded
    one)."""
    if hash_format == 1:
        h = F.xxhash64(*[F.col(c) for c in cols])
    elif hash_format == HASH_FORMAT:
        h = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))
    else:
        raise ValueError(f"unknown shard-manifest hash_format {hash_format}")
    aggs = [F.count("*").alias("n_rows"), F.bit_xor(h).alias("checksum")]
    if hash_format != 1:
        aggs.append(F.sum(h.cast("decimal(38,0)")).alias("hashsum"))
    return df.groupBy("shard").agg(*aggs)


def write_training_shards(
    df: DataFrame,
    path: str,
    key: Column,
    n_shards: int,
    seed: int = 0,
    format: str = "parquet",
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` as ``path/shard=K/`` partitions with deterministic
    assignment and intra-shard order (seeded xxhash64 — see
    ``shard_shuffle``), plus a ``_shard_manifest.json`` recording seed,
    shard count, and per-shard (n_rows, checksum).  Returns the
    manifest dict (driver-sized: one entry per shard)."""
    data_cols = df.columns
    sharded = shard_shuffle(df, key, n_shards, seed)
    (sharded.write.mode(mode).format(format)
     .partitionBy("shard").save(path))
    stats = _shard_stats(
        sharded.sparkSession.read.format(format).load(path), data_cols)
    manifest = {
        "seed": int(seed),
        "n_shards": int(n_shards),
        "hash_format": HASH_FORMAT,
        "columns": data_cols,
        "shards": {
            str(r["shard"]): {"n_rows": r["n_rows"],
                              "checksum": int(r["checksum"]),
                              "hashsum": str(r["hashsum"])}
            for r in stats.collect()
        },
    }
    # atomic publish (tmp + rename): a crash mid-json.dump left a
    # truncated manifest next to complete-looking shard data
    write_json_atomic(os.path.join(path, MANIFEST_NAME), manifest)
    return manifest


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        return json.load(f)


def verify_training_shards(
    spark: SparkSession, path: str, manifest: dict | None = None,
    format: str = "parquet",
) -> list[str]:
    """Recompute per-shard counts + checksums from the written files
    and diff against the manifest.  Returns a list of human-readable
    problems (empty = verified)."""
    if manifest is None:
        manifest = read_manifest(path)
    want = manifest["shards"]
    # replay the formula the manifest was WRITTEN with: explicit
    # hash_format when recorded; otherwise the presence of hashsum is
    # the discriminator (hashsum and the v2 to_json hash landed
    # together — a manifest without it predates both, and verifying it
    # with the v2 formula false-fails every intact legacy shard)
    fmt = manifest.get("hash_format") or (
        2 if any("hashsum" in s for s in want.values()) else 1)
    df = spark.read.format(format).load(path)
    got = {
        str(r["shard"]): (r["n_rows"], int(r["checksum"]),
                          str(r["hashsum"]) if fmt != 1 else None)
        for r in _shard_stats(df, manifest["columns"], fmt).collect()
    }
    problems: list[str] = []
    for shard in sorted(set(want) | set(got), key=int):
        if shard not in got:
            problems.append(f"shard {shard}: missing from data")
        elif shard not in want:
            problems.append(f"shard {shard}: not in manifest")
        else:
            n, c, hs = got[shard]
            if n != want[shard]["n_rows"]:
                problems.append(
                    f"shard {shard}: n_rows {n} != {want[shard]['n_rows']}")
            if c != want[shard]["checksum"]:
                problems.append(f"shard {shard}: checksum mismatch")
            # v1 manifests predate hashsum — count+xor only there
            if "hashsum" in want[shard] and hs != want[shard]["hashsum"]:
                problems.append(f"shard {shard}: hashsum mismatch")
    return problems
