"""Compaction + vacuum — the Iceberg ``rewrite_data_files`` /
``expire_snapshots`` maintenance pair for the chunk store.

Streaming ingestion (``streaming/encode_stream.py``) commits one run per
micro-batch, so a partition accumulates many runs of under-filled chunks:
read amplification (one kernel call per tiny chunk) and worse compression
(the model codecs want full 64Ki-row blocks — the reference's own block-size
sweep, ``benchmark/leco_int_benchmark_block.sh``, shows ratio degrading at
small blocks). ``compact_store`` rewrites fragmented partitions into
full-size chunks and swaps them in ATOMICALLY:

1. pick victim parts from the lineage manifest only (no payload read,
   no Spark job);
2. decode exactly those parts (parquet row-group skip on ``part_id``) and
   re-encode into a staged run — ``encode_table(commit=False)`` writes chunk
   files that no reader can see;
3. build the next lineage version = current manifest minus the victims'
   rows plus the staged run's rows (aggregated on the driver from the
   staged files' top-level fields), write it as one file into a fresh
   ``lineage_v/<N>/`` dir;
4. ``os.replace`` the pointer file — the single atomic commit point
   (Iceberg's metadata-location CAS). A crash at ANY earlier step leaves the
   store byte-identical for readers; the staged run is an invisible orphan
   that ``vacuum_store`` removes.

Readers need no coordination: visibility is "manifest row exists for
(part_id, run_id)" (``chunkstore.read_manifest``), and the rewritten rows
keep their part ids because partition assignment is a pure function of the
keys (``jobs/encode.py`` module docstring). Single-writer assumption: a
concurrent append between steps 3 and 4 would be dropped by the swap —
deployments serialize maintenance against writers exactly as Iceberg's
optimistic commit would abort one side.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from ..chunkstore import (
    chunks_path,
    lineage_current_dir,
    lineage_pointer_path,
    list_snapshots,
    load_store_schema,
    read_lineage,  # noqa: F401 -- perfbench/spans.py rebinds it here by name
    read_manifest,
    run_manifest_rows,
    snapshot_runs,
    write_manifest,
)
from ..sources.session import DEFAULT_CHUNK_ROWS
from .decode import decode_table
from .encode import encode_table


def fragmented_parts(
    spark: SparkSession,
    store: str,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    min_fill: float = 0.5,
    min_runs: int = 2,
) -> list[int]:
    """Victim part ids, from the lineage manifest only.

    A part is fragmented when rewriting would actually help: its visible
    chunks average below ``min_fill`` of a full chunk AND it spans at least
    ``min_runs`` runs (single-run parts are already as compact as their
    input allowed) AND a rewrite would produce fewer chunks."""
    agg = read_manifest(store).group_by("part_id").aggregate(
        [("n_chunks", "sum"), ("n_rows", "sum"), ("run_id", "count_distinct")]
    )
    fill = int(chunk_rows * min_fill)
    return sorted(
        int(p)
        for p, chunks, rows, runs in zip(
            agg.column("part_id").to_pylist(),
            agg.column("n_chunks_sum").to_pylist(),
            agg.column("n_rows_sum").to_pylist(),
            agg.column("run_id_count_distinct").to_pylist(),
        )
        if runs >= min_runs and rows < chunks * fill and chunks > math.ceil(rows / chunk_rows)
    )


def compact_store(
    spark: SparkSession,
    store: str,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    min_fill: float = 0.5,
    min_runs: int = 2,
    victims: list[int] | None = None,
) -> dict:
    """Rewrite fragmented partitions into full chunks; atomic lineage swap.

    Returns ``{"compacted_parts": k, "run_id": ..., "rows": ...}``;
    ``compacted_parts == 0`` means the store was already compact (no write
    of any kind happens)."""
    doc = load_store_schema(store)
    if int(doc.get("salt_block", 0)) == 0:
        raise NotImplementedError(
            "compact_store supports salted stores; presorted stores map "
            "parts to input splits, so re-derived part ids would not be "
            "stable (their append pattern is bulk, not micro-batch)"
        )
    if victims is None:
        victims = fragmented_parts(spark, store, chunk_rows, min_fill, min_runs)
    if not victims:
        return {"compacted_parts": 0}

    # stage the rewrite (invisible): decode ONLY victim parts, re-encode.
    # Part assignment is the persisted pure key function, so every rewritten
    # row lands back in its original (victim) part id.
    rows = decode_table(spark, store, parts=victims)
    staged = encode_table(
        rows,
        store,
        key_cols=tuple(doc["key_cols"]),
        chunk_rows=chunk_rows,
        resume=False,
        commit=False,
    )
    run_id = staged["run_id"]

    # next lineage version: everything minus victims, plus the staged run
    current = read_manifest(store)
    keep = current.filter(
        pc.invert(pc.is_in(current.column("part_id"), pa.array(victims, pa.int32())))
    )
    new_rows = run_manifest_rows(store, run_id, staged["wall_ms"])
    # next version = max(existing lineage_v entries) + 1, NOT pointer + 1:
    # a compaction that crashed after writing lineage_v/<N> but before the
    # pointer swap leaves an orphan <N>; deriving from the pointer would
    # recompute the same N and makedirs would abort every subsequent
    # compaction until a manual vacuum (ADVICE r2)
    vdir = os.path.join(store, "lineage_v")
    ver = 0
    if os.path.isdir(vdir):
        existing = [int(d) for d in os.listdir(vdir) if d.isdigit()]
        if existing:
            ver = max(existing) + 1
    next_dir = os.path.join(store, "lineage_v", f"{ver:010d}")
    os.makedirs(next_dir)  # never reuse a version dir
    write_manifest(next_dir, pa.concat_tables([keep, new_rows]), "manifest.parquet")

    # the atomic commit: os.replace of the pointer file
    tmp = lineage_pointer_path(store) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"dir": os.path.join("lineage_v", f"{ver:010d}")}, fh)
    os.replace(tmp, lineage_pointer_path(store))
    return {
        "compacted_parts": len(victims),
        "run_id": run_id,
        "rows": staged["rows"],
        "enc_bytes": staged["enc_bytes"],
    }


def vacuum_store(spark: SparkSession, store: str) -> dict:
    """Delete unreferenced bytes: run dirs absent from the current lineage
    (compacted-away or crashed-before-commit) and superseded lineage
    versions. Runs pinned by a snapshot manifest
    (``chunkstore.snapshot_store`` — the time-travel surface) stay live;
    releasing them is an explicit ``drop_snapshot`` (Iceberg
    ``expire_snapshots``) followed by another vacuum.

    Granularity is the RUN directory: a run is reclaimable only when no part
    in it is still referenced, so compacting a subset of parts strands the
    rest of their runs until a later compaction picks those parts too (same
    trade as Iceberg file-level expiry with coarse files)."""
    referenced = set(read_manifest(store).column("run_id").to_pylist())
    # snapshots pin their runs (Iceberg: only expire_snapshots releases
    # them) — drop_snapshot first to reclaim a snapshot's bytes
    for sid in list_snapshots(store):
        referenced |= {run for _p, run in snapshot_runs(store, sid)}
    removed_runs = []
    croot = chunks_path(store)
    for d in os.listdir(croot) if os.path.isdir(croot) else []:
        if d.startswith("run_id=") and d.split("=", 1)[1] not in referenced:
            shutil.rmtree(os.path.join(croot, d), ignore_errors=True)
            removed_runs.append(d.split("=", 1)[1])
    removed_lineage = []
    cur = lineage_current_dir(store)
    # temp files of manifest commits that died before their os.replace
    for f in os.listdir(cur) if os.path.isdir(cur) else []:
        if f.startswith(".") and f.endswith(".tmp"):
            os.remove(os.path.join(cur, f))
    vroot = os.path.join(store, "lineage_v")
    if os.path.isdir(vroot):
        for d in os.listdir(vroot):
            full = os.path.join(vroot, d)
            if full != cur:
                shutil.rmtree(full, ignore_errors=True)
                removed_lineage.append(d)
        flat = os.path.join(store, "lineage")
        if os.path.isdir(flat) and cur != flat:
            shutil.rmtree(flat, ignore_errors=True)
            removed_lineage.append("lineage")
    return {"removed_runs": removed_runs, "removed_lineage_versions": removed_lineage}
