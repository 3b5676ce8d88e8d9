"""Model artifact store for training-pipeline components.

Every trained model in this package is a DataFrame plus a few scalar
params — BPE merge rows, n-gram LM count tables, Naive-Bayes token
stats, IVF centroids.  At 100 TB the discipline is: TRAINING scans the
corpus, SCORING must not retrain — so a model gets persisted once and
reopened by every downstream job.  This module is that handshake:

    <path>/data/          the model table (parquet)
    <path>/manifest.json  {"kind", "params", "rows", format version}

``load_model`` verifies kind and row count, so a truncated or
mis-copied artifact fails loudly at open time instead of as silently
wrong scores (the same contract as similarity.load_ann_index).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from hbase_snapshot_spark.table import write_json_atomic

_FORMAT = "model-parquet"
_VERSION = 1


def save_model(
    data: DataFrame,
    path: str,
    kind: str,
    params: dict | None = None,
) -> dict:
    """Persist a model table + manifest; returns the manifest.
    Refuses to overwrite (artifacts are immutable — version by path)."""
    data.write.mode("errorifexists").parquet(os.path.join(path, "data"))
    spark = data.sparkSession
    rows = spark.read.parquet(os.path.join(path, "data")).count()
    manifest = {
        "format": _FORMAT, "version": _VERSION, "kind": kind,
        "params": params or {}, "rows": int(rows),
        "columns": data.columns,
    }
    write_json_atomic(os.path.join(path, "manifest.json"), manifest)
    return manifest


def load_model(
    spark: SparkSession,
    path: str,
    expect_kind: str | None = None,
) -> tuple[DataFrame, dict]:
    """Open a persisted model; verifies format, kind, and row count."""
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    if manifest.get("format") != _FORMAT or manifest.get("version") != _VERSION:
        raise ValueError(f"not a {_FORMAT} v{_VERSION} artifact: {path}")
    if expect_kind is not None and manifest["kind"] != expect_kind:
        raise ValueError(
            f"artifact kind mismatch at {path}: "
            f"expected {expect_kind!r}, found {manifest['kind']!r}")
    df = spark.read.parquet(os.path.join(path, "data"))
    # columns first: a mis-copied data/ dir with a coincidentally equal
    # row count (the exact mishap this store exists to catch) passed
    # the kind+rows checks and returned the wrong table silently
    if "columns" in manifest and df.columns != manifest["columns"]:
        raise ValueError(
            f"artifact corrupt at {path}: manifest says columns "
            f"{manifest['columns']}, data has {df.columns}")
    n = df.count()
    if n != manifest["rows"]:
        raise ValueError(
            f"artifact corrupt at {path}: manifest says "
            f"{manifest['rows']} rows, found {n}")
    return df, manifest


# ------------------------------------------------------ typed wrappers

def save_bpe(tokenizer, spark: SparkSession, path: str) -> dict:
    """Persist a bpe.BpeTokenizer (merge rows are the whole model;
    base symbols ride in params)."""
    rows = tokenizer.to_rows()
    df = spark.createDataFrame(rows, "idx int, a string, b string")
    return save_model(
        df, path, "bpe",
        {"base_symbols": tokenizer.base_symbols,
         "vocab_size": tokenizer.vocab_size})


def load_bpe(spark: SparkSession, path: str):
    from hbase_snapshot_spark.operators.bpe import BpeTokenizer

    df, manifest = load_model(spark, path, expect_kind="bpe")
    rows = [(r.idx, r.a, r.b) for r in df.collect()]
    return BpeTokenizer.from_rows(rows, manifest["params"]["base_symbols"])


def save_unigram(tokenizer, spark: SparkSession, path: str) -> dict:
    """Persist a unigram.UnigramTokenizer (the (piece, logp) table IS
    the model; max_piece_len rides in params — Viterbi under a
    different window would silently mis-segment)."""
    df = spark.createDataFrame(
        tokenizer.to_rows(), "piece string, logp double")
    return save_model(
        df, path, "unigram",
        {"max_piece_len": tokenizer.max_piece_len,
         "vocab_size": tokenizer.vocab_size})


def load_unigram(spark: SparkSession, path: str):
    from hbase_snapshot_spark.operators.unigram import UnigramTokenizer

    df, manifest = load_model(spark, path, expect_kind="unigram")
    rows = [(r.piece, r.logp) for r in df.collect()]
    return UnigramTokenizer.from_rows(
        rows, max_piece_len=manifest["params"]["max_piece_len"])


def save_lm(lm: DataFrame, path: str, n: int, lowercase: bool,
            ws: str) -> dict:
    """Persist an lm.train_ngram_lm count table WITH the tokenization
    params scoring must reuse — a model scored under a different
    tokenizer than it was trained under is silently garbage."""
    return save_model(
        lm, path, "ngram-lm", {"n": n, "lowercase": lowercase, "ws": ws})


def load_lm(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    df, manifest = load_model(spark, path, expect_kind="ngram-lm")
    return df, manifest["params"]
