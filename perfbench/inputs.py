"""Seeded workload inputs and the plain-Spark answers they are checked against.

Everything here is a pure function of the workload seed: the same seed gives
the same rows, the same predicate constants and the same expected answers.
The engine under test only ever receives the generated inputs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

#: decimal wide enough to sum millions of 64-bit hashes without overflow
#: (Spark's ANSI mode raises on a wrapping long sum)
HASH_SUM_TYPE = "decimal(20,0)"


def transcript_rows(seed: int, n_rows: int) -> pd.DataFrame:
    """Exactly ``n_rows`` turns of the synthetic transcript table, taken from
    a seeded contiguous conversation-id range (``conv_turns`` is the same
    per-conversation generator ``transcripts_df`` maps over). The last
    conversation is cut so every seed yields the same row count."""
    from learn_to_compress_spark.sources.transcripts import conv_turns

    lo = int(np.random.default_rng(seed).integers(0, 1 << 20))
    frames, total, i = [], 0, lo
    while total < n_rows:
        f = conv_turns(i)
        frames.append(f)
        total += len(f)
        i += 1
    return pd.concat(frames, ignore_index=True).iloc[:n_rows].reset_index(drop=True)


def checksum(df, cols) -> tuple[int, int]:
    """Order-independent ``(count, sum(xxhash64(row)))`` of ``df[cols]``."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast(HASH_SUM_TYPE)).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h or 0)


def masked_checksums(df, preds: list) -> list[tuple[int, int]]:
    """``checksum`` of ``df.filter(pred)`` for every ``(pred, cols)`` pair,
    all in ONE Spark job (conditional sums)."""
    from pyspark.sql import functions as F

    aggs = []
    for j, (pred, cols) in enumerate(preds):
        aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(f"n{j}"))
        aggs.append(F.sum(F.when(pred, F.xxhash64(*cols).cast(HASH_SUM_TYPE))).alias(f"h{j}"))
    row = df.agg(*aggs).collect()[0]
    return [(int(row[f"n{j}"] or 0), int(row[f"h{j}"] or 0)) for j in range(len(preds))]


def store_chunks(spark, store: str, meta: bool = False):
    """The store's visible chunk rows as one Arrow table sorted by
    ``chunk_id``: per column ``codec`` and ``payload`` (plus zone maps and
    byte counts with ``meta``), read through ``chunkstore.read_chunks``."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from learn_to_compress_spark.chunkstore import col_field, load_store_schema, read_chunks

    names = [cs[0] for cs in load_store_schema(store)["colspecs"]]
    leaves = [F.col("chunk_id"), F.col("n_rows")]
    fields = ["codec", "payload"]
    if meta:
        fields += ["enc_bytes", "zmin", "zmax", "zsmin", "zsmax", "nvalid"]
    for n in names:
        leaves += [F.col(f"{col_field(n)}.{f}").alias(f"{n}.{f}") for f in fields]
    tbl = read_chunks(spark, store, leaves=leaves).toArrow()
    return tbl.take(pc.sort_indices(tbl, sort_keys=[("chunk_id", "ascending")])), names


def store_digest(tbl, names) -> str:
    """Identity of a store's bytes: sha256 over the ``chunk_id``-sorted
    ``(codec, payload)`` pairs of every column."""
    h = hashlib.sha256()
    for n in names:
        codecs = tbl.column(f"{n}.codec").to_pylist()
        payloads = tbl.column(f"{n}.payload").to_pylist()
        h.update(n.encode())
        for c, p in zip(codecs, payloads):
            h.update(c.encode())
            h.update(len(p).to_bytes(8, "little"))
            h.update(p)
    return h.hexdigest()[:16]
