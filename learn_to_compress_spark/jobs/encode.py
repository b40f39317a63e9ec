"""Encode job — the distributed equivalent of the reference's encode drivers
(``experiments/fix_int.cpp:52-96``, ``experiments/leco_int_template.cpp:66-207``).

Plan shape (one shuffle, then embarrassingly-parallel map):

    input DataFrame
      → part_id = pmod(xxhash64(conv_id, turn_idx // salt_block), P)   [salted]
      → [resume: anti-filter against the manifest's committed part_ids]
      → repartition(P, part_id)                                        [shuffle]
      → sortWithinPartitions(part_id, *key_cols)                       [stable order]
      → mapInArrow(encode kernel)  — one OUTPUT ROW per column chunk
      → append Parquet chunk files, then one manifest file (driver)    [commit]

The salt splits a long conversation into ``salt_block``-turn ranges so a
hot conversation cannot hot-spot one partition (north_star skew clause);
the per-conv order invariant is restored at decode time by sorting on the
decoded ``(conv_id, turn_idx)``. Partition assignment is a pure function of
the keys AND the persisted ``(num_parts, salt_block)`` params — they are
written to ``_schema.json`` on the first run and re-validated on resume, so
a resumed run can never silently remap rows to different part ids. At 10^12
turns nothing here is driver-bound: the part_id set (P ints) is the only
driver-side state.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..chunkstore import (
    check_run_id,
    chunk_schema,
    chunks_path,
    col_field,
    commit_run,
    manifest_totals,
    read_lineage,  # noqa: F401 -- perfbench/spans.py rebinds it here by name
    read_manifest,
    run_manifest_rows,
    schema_path,
)
from ..sources.session import DEFAULT_CHUNK_ROWS

_LOGICAL_OF_SPARK = {
    "integer": "int32",
    "long": "int64",
    "timestamp": "timestamp_us",
    "timestamp_ntz": "timestamp_ntz_us",
    "string": "string",
    "double": "double",
}

MAX_CHUNKS_PER_PART = 1 << 20  # chunk_id = part_id * 2^20 + seq


def colspecs_of(df: DataFrame, exclude: tuple[str, ...] = ()) -> list[tuple[str, str]]:
    specs = []
    for f in df.schema.fields:
        if f.name in exclude:
            continue
        logical = _LOGICAL_OF_SPARK.get(f.dataType.typeName())
        if logical is None:
            raise TypeError(f"unsupported column type {f.dataType} for {f.name}")
        specs.append((f.name, logical))
    return specs


def _exact_i64_sum(v64: np.ndarray) -> int:
    """Exact sum of an int64 array without object-array overhead: split into
    high/low 32-bit halves whose partial sums cannot overflow int64."""
    hi = int((v64 >> np.int64(32)).sum(dtype=np.int64))
    lo = int((v64 & np.int64(0xFFFFFFFF)).sum(dtype=np.int64))
    return (hi << 32) + lo


def _encode_one(ser: pd.Series, logical: str) -> tuple[str, bytes, dict]:
    """pandas-entry wrapper (tests/profiling); the job kernel uses the
    Arrow-native `_encode_one_arrow`."""
    import pyarrow as pa

    if logical == "string":
        col = pa.Array.from_pandas(ser, type=pa.large_string())
    elif logical == "double":
        col = pa.Array.from_pandas(ser, type=pa.float64())
    elif logical.startswith("timestamp"):
        col = pa.Array.from_pandas(ser, type=pa.timestamp("us"))
    else:
        col = pa.Array.from_pandas(
            ser, type=pa.int32() if logical == "int32" else pa.int64()
        )
    return _encode_one_arrow(col, logical)


def _encode_one_arrow(
    col, logical: str, selection: str = "exact", memo=None
) -> tuple[str, bytes, dict]:
    """Encode one Arrow column chunk — no Python objects on the hot path.

    Returns ``(codec_name, payload, info)`` where info carries the chunk
    metadata destined for the store struct: ``raw_bytes`` plus, for
    int/timestamp columns, zone map ``zmin``/``zmax`` and the exact value
    sum ``vsum`` (signed domain; µs since epoch for timestamps)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..codecs import INT_CODEC_CLASSES
    from ..select import (
        STRING_CODEC_IDS,
        encode_double_column,
        encode_int_values,
        encode_string_column_arrow,
    )

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    has_nulls = col.null_count > 0
    mask = col.is_null().to_numpy(zero_copy_only=False) if has_nulls else None
    nonnull = col.drop_null() if has_nulls else col

    # a "force:<codec>" selection only applies to columns of the codec's
    # kind — a forced int codec leaves string columns on the normal race
    # and vice versa (doubles always race)
    if selection.startswith("force:"):
        forced = selection[6:]
        # route by the codec's ACTUAL kind ("fsst" holds a legacy slot in the
        # int id registry but is a string codec; "linked" is framing-level)
        int_sel = (
            selection if forced in INT_CODEC_CLASSES and forced != "linked" else "exact"
        )
        str_sel = selection if forced in STRING_CODEC_IDS else "exact"
    else:
        int_sel = str_sel = selection

    info: dict = {}
    if logical == "string":
        name, payload = encode_string_column_arrow(col, str_sel, memo=memo)
        raw = int(
            pc.sum(pc.binary_length(nonnull.cast(pa.large_binary()))).as_py() or 0
        )
        if len(nonnull):
            mm = pc.min_max(nonnull.cast(pa.large_string()))
            info["zsmin"] = mm["min"].as_py()
            info["zsmax"] = mm["max"].as_py()
    elif logical == "double":
        name, payload = encode_double_column(
            pd.Series(col.to_numpy(zero_copy_only=False))
        )
        raw = 8 * len(nonnull)
    else:
        raw_vals = nonnull.to_numpy(zero_copy_only=False)
        name, payload = encode_int_values(raw_vals, mask, logical, int_sel, memo=memo)
        raw = (4 if logical == "int32" else 8) * len(nonnull)
        if len(nonnull):
            if logical.startswith("timestamp"):
                v64 = raw_vals.astype("datetime64[us]").view(np.int64)
            else:
                v64 = raw_vals.astype(np.int64, copy=False)
            info["zmin"] = int(v64.min())
            info["zmax"] = int(v64.max())
            info["vsum"] = _exact_i64_sum(v64)
        else:
            info["vsum"] = 0
    info["raw_bytes"] = raw
    info["enc_bytes"] = len(payload)
    info["nvalid"] = len(nonnull)
    return name, payload, info


#: candidate chunk sizes for the sampled block-size sweep — the reference
#: benchmarks sweep 200–200k (``benchmark/fix_int_benchmark.py:16-26``)
#: because optimal CR genuinely moves with block size; we sweep the
#: power-of-two band around the 65Ki default
CHUNK_ROWS_CANDIDATES = (8192, 16384, 32768, 65536, 131072)

#: rows of the driver sample the chunk-size tuner and the linked probe read;
#: the race seed reads ``_seed_rows(chunk_rows)``
TUNE_ROWS = 1 << 17
PROBE_ROWS = 1 << 15

_INT_LOGICALS = ("int32", "int64", "timestamp_us", "timestamp_ntz_us")

#: approximate per-chunk per-column store overhead (one parquet struct row:
#: codec name, zone map, sums, offsets) charged to each candidate so tiny
#: chunks don't win on payload bytes alone
_CHUNK_META_OVERHEAD = 48


def tune_chunk_rows(
    df: DataFrame,
    key_cols: tuple[str, ...] = (),
    candidates: tuple[int, ...] = CHUNK_ROWS_CANDIDATES,
    sample_rows: int = TUNE_ROWS,
    sample: pd.DataFrame | None = None,
) -> tuple[int, dict[int, int]]:
    """Per-table block-size auto-tuner (``headers/search_hyper.h:14``
    ``pick_block_size``, ``headers/search_blocksize.h``): encode a sampled
    slice at every candidate chunk size with the job's OWN Arrow kernel and
    keep the size with the smallest total compressed bytes.

    Spark shape: ONE bounded ``limit(sample_rows)`` collect — driver work is
    size-independent at any table scale (the reference samples random blocks
    for the same reason) — then a local key-sort replays the kernel's
    within-chunk order. ``sample``: an already collected sample of every
    column (``encode_table``'s driver sample), of which the first
    ``sample_rows`` rows are used instead. Exact pricing, no extrapolation:
    the sample IS encoded at each candidate. Returns ``(best_chunk_rows,
    {candidate: total_bytes})``.
    """
    import pyarrow as pa

    colspecs = colspecs_of(df)
    if sample is None:
        sample = df.limit(int(sample_rows)).toPandas()
    pdf = sample.head(int(sample_rows))
    if key_cols:
        pdf = pdf.sort_values(list(key_cols), kind="stable").reset_index(drop=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    n = tbl.num_rows
    sizes: dict[int, int] = {}
    for cand in candidates:
        # one race memo per column, as one encode task races its chunks
        memos: dict[str, dict] = {name: {} for name, _ in colspecs}
        total = 0
        for s in range(0, n, cand):
            sl = tbl.slice(s, min(cand, n - s))
            for name, logical in colspecs:
                _, payload, _ = _encode_one_arrow(sl.column(name), logical, memo=memos[name])
                total += len(payload) + _CHUNK_META_OVERHEAD
        sizes[cand] = total
    # ties break toward the LARGER chunk (fewer store rows, cheaper scans)
    best = min(sizes, key=lambda c: (sizes[c], -c))
    return best, sizes


def _seed_rows(chunk_rows: int) -> int:
    return min(2 * chunk_rows, TUNE_ROWS)


def _int_cols(colspecs) -> list[tuple[str, str]]:
    return [(n, lg) for n, lg in colspecs if lg in _INT_LOGICALS]


def _with_keys(key_cols, cols) -> list[str]:
    return list(dict.fromkeys([*(k for k in key_cols if k), *cols]))


def _sample_head(sample: pd.DataFrame, key_cols, cols, n_rows: int) -> pd.DataFrame:
    """The first ``n_rows`` rows of the driver sample, key cols + ``cols``,
    stably sorted by the key cols it holds — the kernel's within-chunk
    order."""
    pdf = sample.head(int(n_rows))[_with_keys(key_cols, cols)]
    sortable = [k for k in key_cols if k in pdf.columns]
    if sortable:
        pdf = pdf.sort_values(sortable, kind="stable").reset_index(drop=True)
    return pdf


def _driver_sample(df: DataFrame, key_cols, colspecs, n_rows: int, all_cols: bool):
    """``encode_table``'s one bounded driver collect: the first ``n_rows``
    rows of every column (for the chunk-size tuner) or of the key and
    int/timestamp columns only (race seed, linked probe), so a text column
    ships only when the tuner prices it."""
    cols = df.columns if all_cols else _with_keys(key_cols, [n for n, _ in _int_cols(colspecs)])
    return df.select(*cols).limit(int(n_rows)).toPandas()


def _sample_race_seed(
    sample: pd.DataFrame,
    key_cols: tuple[str, ...],
    colspecs,
    chunk_rows: int,
) -> dict[str, dict]:
    """Driver-side pre-seeding of the per-column race memos: encode the
    first ``_seed_rows(chunk_rows)`` rows of the driver sample, in
    ``chunk_rows`` chunks, per int/timestamp column and pre-bench every race
    leg (``select.RACE_LEGS``) that lost on every one of those chunks (one
    or two of them; a sample shorter than a chunk is one chunk).

    ``chunk_rows`` is the chunk size the executors race: ``encode_table``
    passes the job's ``chunk_rows``, or, when the sample came back shorter
    than requested and so holds the whole input,
    ``min(chunk_rows, ceil(len(sample) / num_parts))`` — each part's rows
    are then one short chunk, and a seed chunk any longer would race legs
    (var, var_la at 4096 values) that no executor chunk reaches.

    Shipped into the encode kernel, the seed makes adaptive race pruning
    effective even when a task sees only one or two chunks of a column
    (small jobs / many-partition layouts) — at scale the per-worker
    ``RACE_RECHECK`` re-race still corrects a sample that under-represents
    a late distribution shift. String columns are not seeded: the kernel
    benches FSST after a column's first lost race, so a task's first chunk
    is its own seed, and the sample never ships a text column for it."""
    import pyarrow as pa

    from ..select import RACE_PATIENCE

    int_cols = _int_cols(colspecs)
    pdf = _sample_head(sample, key_cols, [n for n, _ in int_cols], _seed_rows(chunk_rows))
    if not len(pdf):
        return {}
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    seed: dict[str, dict] = {}
    for name, logical in int_cols:
        memo: dict = {}
        for s in range(0, tbl.num_rows, chunk_rows):
            _encode_one_arrow(
                tbl.column(name).slice(s, chunk_rows), logical, memo=memo
            )
        benched = {
            cand: (RACE_PATIENCE, 0)
            for cand, (losses, _since) in memo.items()
            if losses >= max(1, (tbl.num_rows + chunk_rows - 1) // chunk_rows)
        }
        if benched:
            seed[name] = benched
    return seed


def _propose_linked_cols(
    sample: pd.DataFrame,
    key_cols: tuple[str, ...],
    colspecs,
    margin: float = 0.7,
) -> dict[str, str] | None:
    """Sampled group-correlation probe — auto-detect companion columns for
    the linked codec (the reference's colcor mode is driven by a caller-set
    group-correlation flag,
    ``piecewise_cost_merge_integer_template_link_colcor.h:634``; here the
    first ``PROBE_ROWS`` rows of the bounded driver sample propose the map
    instead of the user).

    For every ordered pair of null-free int/timestamp columns the probe
    compares an O(n) ANALYTIC size of the linked residual stream (centered
    LS fit of target on companion; residual range bits — the same model
    ``encode_linked_framed`` serializes) against the target's own analytic
    best fixed size. A pair enters the map only on a decisive win
    (``margin``), companions follow the schema constraints (a companion
    cannot itself be a target), and the per-chunk linked RACE still verifies
    exactly — a false proposal costs one extra race leg per chunk, never
    bytes. The sample sorts by ``key_cols`` so the correlation is measured
    in the kernel's within-chunk order."""
    from ..codecs.base import preds_castable
    from ..select import int_codec_sizes

    int_cols = _int_cols(colspecs)
    pdf = _sample_head(sample, key_cols, [n for n, _ in int_cols], PROBE_ROWS)
    if len(pdf) < 1024:
        return None  # too small to trust a correlation
    arrs: dict[str, np.ndarray] = {}
    for name, logical in int_cols:
        s = pdf[name]
        if s.isna().any():
            continue  # linked chunks must be null-free — don't propose
        v = s.to_numpy()
        if logical.startswith("timestamp"):
            v = v.astype("datetime64[us]").view(np.int64)
        arrs[name] = v.astype(np.int64, copy=False)
    props: list[tuple[float, str, str]] = []
    for t, y in arrs.items():
        u = (y - y.min()).view(np.uint64)
        base = min(int_codec_sizes(u, np.uint64).values())
        if base <= 0:
            continue
        yf = y.astype(np.float64)
        ym = yf.mean()
        for c, xi in arrs.items():
            if c == t:
                continue
            xf = xi.astype(np.float64)
            xc = xf - xf.mean()
            varx = float((xc * xc).sum())
            if varx == 0.0 or not np.isfinite(varx):
                continue
            t1 = float((xc * (yf - ym)).sum()) / varx
            pred = ym + t1 * xc
            if not preds_castable(pred):
                continue
            resid = y - pred.astype(np.int64)
            rng = float(int(resid.max()) - int(resid.min()))
            linked_bytes = y.size * (np.log2(rng + 1.0) + 1.0) / 8.0 + 32.0
            if linked_bytes < margin * base:
                props.append((linked_bytes / base, t, c))
    props.sort()
    out: dict[str, str] = {}
    used_comp: set[str] = set()
    for _ratio, t, c in props:
        # best wins first; keep the schema invariants (companion never a
        # target, one companion per target)
        if t in out or t in used_comp or c in out:
            continue
        out[t] = c
        used_comp.add(c)
    return out or None


def _i64_of_arrow(col, logical: str) -> np.ndarray:
    """Dense signed-int64 domain of a null-free int/timestamp Arrow column
    (µs since epoch for timestamps)."""
    a = col.to_numpy(zero_copy_only=False)
    if logical.startswith("timestamp"):
        return a.astype("datetime64[us]").view(np.int64)
    return a.astype(np.int64, copy=False)


def _make_kernel(colspecs, chunk_rows, selection="exact", linked=None, race_seed=None):
    """Arrow-native encode kernel (mapInArrow): RecordBatch slices are
    zero-copy, string columns never materialize as Python objects. Emits ONE
    row per chunk — all column payloads of a chunk live in that row's
    structs, so the read path needs no regrouping (and hence no shuffle).

    ``linked``: optional ``{target: companion}`` map (correlated-column
    compression, ``piecewise_cost_merge_integer_template_link_colcor.h:21``):
    after the independent race, each target chunk also races an encoding of
    its residuals AGAINST the companion column; the smaller payload wins.
    Skipped per-chunk when either column has nulls."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    # the chunk-row layout is chunkstore's: each emitted row is a dict of
    # its metadata fields and one {struct field: value} dict per column
    arrow_schema = to_arrow_schema(chunk_schema(colspecs))
    logical_of = dict(colspecs)
    linked = dict(linked or {})

    race_seed = race_seed or {}

    def kernel(batches):
        from ..select import encode_linked_framed

        seqs: dict[int, int] = {}
        # per-column race memos live for the whole partition: adaptive
        # candidate pruning amortizes the int race legs (select.RACE_LEGS)
        # and the string race's FSST across a column's chunks
        # (select.RACE_PATIENCE). The driver-side sample seed pre-benches
        # int legs that lost on every sampled chunk; a string column's first
        # chunk here is its own seed (the RECHECK re-race still runs per
        # worker).
        race_memos: dict[str, dict] = {
            name: dict(race_seed.get(name, {})) for name, _ in colspecs
        }
        for rb in batches:
            parts_np = rb.column(rb.schema.get_field_index("_part_id")).to_numpy(
                zero_copy_only=False
            )
            # rows sorted by _part_id: consecutive groups, order preserved
            change = np.flatnonzero(parts_np[1:] != parts_np[:-1]) + 1
            bounds = [0, *change.tolist(), len(rb)]
            rows = []
            for s, e in zip(bounds[:-1], bounds[1:]):
                part_id = int(parts_np[s])
                for cs in range(s, e, chunk_rows):
                    sl = rb.slice(cs, min(chunk_rows, e - cs))
                    seq = seqs.get(part_id, 0)
                    if seq >= MAX_CHUNKS_PER_PART:
                        raise RuntimeError("chunk seq overflow; raise num_parts")
                    seqs[part_id] = seq + 1
                    cols: dict[str, dict] = {}
                    for name, logical in colspecs:
                        codec, payload, info = _encode_one_arrow(
                            sl.column(sl.schema.get_field_index(name)), logical,
                            selection, memo=race_memos[name],
                        )
                        cols[name] = {"codec": codec, "payload": payload, **info}
                    for tgt, comp in linked.items():
                        yc = sl.column(sl.schema.get_field_index(tgt))
                        xc = sl.column(sl.schema.get_field_index(comp))
                        if yc.null_count or xc.null_count:
                            continue  # linked frames require null-free chunks
                        framed = encode_linked_framed(
                            _i64_of_arrow(yc, logical_of[tgt]),
                            _i64_of_arrow(xc, logical_of[comp]),
                        )
                        if framed is not None and len(framed) < len(cols[tgt]["payload"]):
                            cols[tgt].update(codec="linked", payload=framed, enc_bytes=len(framed))
                    rows.append({
                        "part_id": part_id,
                        "chunk_id": part_id * MAX_CHUNKS_PER_PART + seq,
                        "n_rows": len(sl),
                        "raw_bytes": sum(c["raw_bytes"] for c in cols.values()),
                        "enc_bytes": sum(c["enc_bytes"] for c in cols.values()),
                        **{col_field(name): c for name, c in cols.items()},
                    })
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return kernel


def _parse_bytes(v: str) -> int:
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10)):
        if s.endswith(suf + "b"):
            s, mult = s[: -len(suf) - 1], m
            break
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def _tune_presorted_splits(spark, df: DataFrame) -> dict | None:
    """Size file splits so the zero-shuffle presorted scan fills the cluster.

    The presorted path's parallelism IS the input split count. On a real
    cluster the table dwarfs ``maxPartitionBytes × cores`` and this is a
    no-op (returns None without touching conf). At the small end — a table
    whose bytes pack into fewer splits than cores (openCostInBytes padding
    makes this worse for many small files) — the scan would leave most
    cores idle for the whole encode, so shrink the split size to
    ``total_bytes / defaultParallelism`` for the duration of this job and
    return the previous conf values for the caller to restore. Only local
    ``file:`` sources are probed; anything else keeps cluster defaults.
    """
    tgt = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return None
    total = 0
    for uri in files:
        path = uri
        if path.startswith("file:"):
            path = path[5:]
            while path.startswith("//"):
                path = path[1:]
        if not os.path.isabs(path) or not os.path.exists(path):
            return None
        total += os.path.getsize(path)
    if total == 0:
        return None
    k_max = "spark.sql.files.maxPartitionBytes"
    k_open = "spark.sql.files.openCostInBytes"
    old = {k_max: spark.conf.get(k_max), k_open: spark.conf.get(k_open)}
    want = max(1 << 20, total // max(tgt, 1))
    if want >= _parse_bytes(old[k_max]):
        return None  # input already yields >= cores splits
    spark.conf.set(k_max, str(want))
    spark.conf.set(k_open, str(64 * 1024))
    return old


def _persist_or_validate_schema(
    store: str,
    colspecs: list[tuple[str, str]],
    key_cols: tuple[str, ...],
    num_parts: int | None,
    salt_block: int,
    default_parts: int,
    chunk_rows: int | None = None,
    linked_cols: dict[str, str] | None = None,
) -> tuple[int, int]:
    """Resolve (num_parts, salt_block) against the persisted store schema.

    First run: resolve defaults and write ``_schema.json`` atomically.
    Later runs (resume/append): the persisted partition-mapping params WIN —
    passing conflicting explicit values raises instead of silently remapping
    rows to different part ids (which would duplicate and drop rows on
    resume)."""
    path = schema_path(store)
    doc = _load_schema_doc(store)
    if doc is not None:
        if [list(cs) for cs in colspecs] != [list(cs) for cs in doc["colspecs"]]:
            raise ValueError(
                f"store {store} schema mismatch: {doc['colspecs']} vs {colspecs}"
            )
        stored_parts = int(doc["num_parts"])
        stored_salt = int(doc["salt_block"])
        if num_parts is not None and num_parts != stored_parts:
            raise ValueError(
                f"store {store} was encoded with num_parts={stored_parts}; "
                f"got {num_parts} — partition mapping must stay fixed"
            )
        if salt_block != stored_salt:
            raise ValueError(
                f"store {store} was encoded with salt_block={stored_salt}; got {salt_block}"
            )
        return stored_parts, stored_salt
    resolved = default_parts if num_parts is None else num_parts
    os.makedirs(store, exist_ok=True)
    tmp = path + ".tmp"
    doc = {
        "colspecs": colspecs,
        "key_cols": list(key_cols),
        "num_parts": resolved,
        "salt_block": salt_block,
        "version": 2,
    }
    if chunk_rows is not None:
        # lineage metadata: the (possibly auto-tuned) chunk size this store
        # was first encoded with — re-encodes with chunk_rows="auto" reuse it
        doc["chunk_rows"] = int(chunk_rows)
    if linked_cols:
        # readers MUST know the companion of a linked column to fetch its
        # payload leaf alongside (decode_table / pushdown operators)
        doc["linked_cols"] = dict(linked_cols)
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)
    return resolved, salt_block


def _load_schema_doc(store: str) -> dict | None:
    path = schema_path(store)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def encode_table(
    df: DataFrame,
    store: str,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    chunk_rows: int | str = DEFAULT_CHUNK_ROWS,
    num_parts: int | None = None,
    salt_block: int = 1 << 16,
    resume: bool = True,
    run_id: str | None = None,
    selection: str = "exact",
    shuffle_width: int | None = None,
    presorted: bool = False,
    commit: bool = True,
    linked_cols: dict[str, str] | None = None,
) -> dict:
    """Encode ``df`` into the chunk store; returns job metrics.

    ``key_cols``: (partition key, order keys...) — ``(conv_id, turn_idx)``
    for transcripts. All other columns ride along and are chunked in the
    same stable order.

    ``linked_cols``: optional ``{target: companion}`` — correlated-column
    compression (``piecewise_cost_merge_integer_template_link_colcor.h:21``):
    each target chunk races an encoding of its residuals against the
    companion column (both must be int/timestamp; a companion cannot itself
    be a target). The map is persisted in ``_schema.json`` — readers need it
    to fetch the companion payload leaf — and reused on resume.

    ``presorted=True`` is the locality fast path for inputs that are ALREADY
    clustered by the keys (the common shape for transcript tables: writers
    append whole conversations, so files are conv-contiguous — exactly like
    Spark skipping the exchange for bucketed joins). The salted repartition
    and sort are skipped entirely: the plan is scan → ``mapInArrow`` → write
    with ZERO shuffle, commit units are the input splits
    (``spark_partition_id``), and skew cannot hot-spot because a chunk caps
    at ``chunk_rows`` regardless of conversation length. Resume requires the
    same input + scan configuration (split count is persisted and
    validated). Default stays the salted shuffle — correct for ANY row
    order, per the north-star skew clause.

    ``run_id`` names the run's ``run_id=<id>`` directory and is quoted into
    read predicates, so it must match ``[A-Za-z0-9._-]+`` (``ValueError``
    before anything is written); default: 12 random hex digits.

    The metrics split the call's wall into three phases: ``prep_s`` (driver
    work before the job — the one driver sample, chunk-size tuner, linked
    probe, race seed, schema and resume bookkeeping), ``wall_ms`` (the
    encode job, in ms) and ``commit_s`` (the run's manifest rows and the
    lineage commit). ``rows``/``raw_bytes``/``enc_bytes``/``ratio`` total
    the visible store (a staged run: its own rows); ``committed`` is False
    for a staged run, ``resumed_noop`` True when every part was already
    committed (``run_id`` None, no job), and ``tune_sizes`` is present when
    the call tuned ``chunk_rows``.
    """
    t_call = time.monotonic()
    spark = df.sparkSession
    run_id = check_run_id(uuid.uuid4().hex[:12] if run_id is None else run_id)
    colspecs = colspecs_of(df)
    logical_of = dict(colspecs)
    int_cols = _int_cols(colspecs)
    stored_doc = _load_schema_doc(store)
    if linked_cols is None and stored_doc is not None:
        linked_cols = stored_doc.get("linked_cols")  # resume reuses the map
    # colcor auto-detect (see _propose_linked_cols) only on the FIRST encode
    # of a store — appends/resumes reuse the persisted map, keeping the
    # store's codec identity stable
    probe = (
        linked_cols is None and stored_doc is None and selection == "exact"
        and len(int_cols) >= 2
    )
    # block-size auto-tuning (operator: pick_block_size): a resumed/appended
    # store reuses its persisted choice — chunk sizing is part of the
    # store's identity for reproducible re-encodes
    tune = chunk_rows == "auto" and "chunk_rows" not in (stored_doc or {})
    if chunk_rows == "auto" and not tune:
        chunk_rows = int(stored_doc["chunk_rows"])
    seed = selection == "exact" and bool(int_cols)
    # ONE bounded driver collect feeds the tuner, the linked probe and the
    # race seed; each reads the first rows it needs. A tuned chunk size
    # seeds from at most TUNE_ROWS rows. Collected on first use, so a
    # resume no-op collects nothing.
    n_rows = max(
        TUNE_ROWS if tune else 0,
        PROBE_ROWS if probe else 0,
        _seed_rows(int(chunk_rows)) if seed and not tune else 0,
    )
    sample = functools.cache(
        lambda: _driver_sample(df, key_cols, colspecs, n_rows, all_cols=tune)
    )
    if probe:
        linked_cols = _propose_linked_cols(sample(), key_cols, colspecs)
    if linked_cols:
        for tgt, comp in linked_cols.items():
            if tgt == comp or tgt not in logical_of or comp not in logical_of:
                raise ValueError(f"linked_cols: bad pair {tgt!r} -> {comp!r}")
            if logical_of[tgt] not in _INT_LOGICALS or logical_of[comp] not in _INT_LOGICALS:
                raise ValueError(
                    f"linked_cols: {tgt!r}/{comp!r} must be int/timestamp columns"
                )
            if comp in linked_cols:
                raise ValueError(
                    f"linked_cols: companion {comp!r} cannot itself be a target"
                )
    tune_sizes: dict[int, int] | None = None
    if tune:
        chunk_rows, tune_sizes = tune_chunk_rows(df, key_cols, sample=sample())
    chunk_rows = int(chunk_rows)

    def metrics(run, t0, t1, manifest) -> dict:
        """The call's metrics: ``run`` is None for a resume no-op; the job
        ran from ``t0`` to ``t1``; the totals are ``manifest``'s."""
        rows, raw, enc = manifest_totals(manifest)
        return {
            "run_id": run,
            "wall_ms": (t1 - t0) * 1000,
            "prep_s": t0 - t_call,
            "commit_s": time.monotonic() - t1,
            "rows": rows,
            "raw_bytes": raw,
            "enc_bytes": enc,
            "ratio": (enc / raw) if raw else None,
            "chunk_rows": chunk_rows,
            "committed": commit or run is None,
            "resumed_noop": run is None,
            **({"tune_sizes": tune_sizes} if tune_sizes else {}),
        }
    restore_conf: dict | None = None
    # the Arrow bridge caps mapInArrow batches at maxRecordsPerBatch — a
    # chunk_rows above it would be SILENTLY fragmented at batch boundaries
    # (the kernel slices within one RecordBatch); raise the cap for this job
    _batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    _cur_cap = int(spark.conf.get(_batch_key))
    if chunk_rows > _cur_cap:
        restore_conf = {_batch_key: str(_cur_cap)}
        spark.conf.set(_batch_key, str(chunk_rows))
    if presorted:
        # split sizing BEFORE resolving the split count — the count is the
        # persisted partition mapping (see _tune_presorted_splits)
        restore_conf = {**(restore_conf or {}), **(_tune_presorted_splits(spark, df) or {})} or None
        default_parts = df.rdd.getNumPartitions()
        salt_block = 0  # unused: partition mapping is the input split id
    else:
        # logical commit units default to 4× the shuffle width: repartition()
        # routes part_ids to tasks by murmur3, and with a 1:1 domain ~1/e of
        # the tasks land empty while others get doubled; a 4× domain gives
        # every task ~4 parts and bounds the straggler ratio, and finer parts
        # also mean finer resume granularity
        default_parts = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    num_parts, salt_block = _persist_or_validate_schema(
        store, colspecs, key_cols, num_parts, salt_block, default_parts,
        chunk_rows=chunk_rows, linked_cols=linked_cols,
    )

    if presorted:
        work = df.withColumn("_part_id", F.spark_partition_id())
    else:
        first_key = key_cols[0]
        salt_parts = [F.col(first_key)]
        if len(key_cols) > 1:
            second = df.schema[key_cols[1]].dataType.typeName()
            if second in ("integer", "long"):
                salt_parts.append((F.col(key_cols[1]) / F.lit(salt_block)).cast("long"))
        part_col = F.pmod(F.xxhash64(*salt_parts), F.lit(num_parts)).cast("int")
        work = df.withColumn("_part_id", part_col)

    if resume:
        committed = read_manifest(store)
        done = sorted(set(committed.column("part_id").to_pylist()))
        if done and set(done) >= set(range(num_parts)):
            # resume no-op fast path: every commit unit is already visible,
            # so the encode job would ship an empty plan — answer from the
            # manifest instead (no Spark job at all)
            if restore_conf:
                for key, val in restore_conf.items():
                    spark.conf.set(key, val)
            t0 = time.monotonic()
            return metrics(None, t0, t0, committed)
        if done:
            work = work.filter(~F.col("_part_id").isin(done))

    # pre-bench costly race candidates from a bounded driver sample (only
    # meaningful for the exact race; forced/learned selections skip races),
    # at the executors' chunk size when the sample is the whole input
    race_seed = None
    if seed:
        seed_chunk = chunk_rows
        if len(sample()) < n_rows:
            seed_chunk = min(chunk_rows, -(-len(sample()) // num_parts))
        race_seed = _sample_race_seed(sample(), key_cols, colspecs, seed_chunk)

    t0 = time.monotonic()
    if presorted:
        # narrow plan: the filter preserves the scan partitioning, and each
        # task sees exactly one _part_id, so chunk seq counters stay unique
        encoded = work.mapInArrow(
            _make_kernel(colspecs, chunk_rows, selection, linked_cols, race_seed),
            schema=chunk_schema(colspecs),
        )
    else:
        if shuffle_width is None:
            shuffle_width = max(1, num_parts // 4)
        encoded = (
            work.repartition(shuffle_width, "_part_id")
            .sortWithinPartitions("_part_id", *key_cols)
            .mapInArrow(
                _make_kernel(colspecs, chunk_rows, selection, linked_cols, race_seed),
                schema=chunk_schema(colspecs),
            )
        )
    # per-run partition directory (Hive-style): readers discover ``run_id``
    # as a partition column, the commit's metrics pass lists ONLY this run's
    # files (at 10^12 rows a metrics pass must not scan the whole store),
    # and a killed run's orphans are one directory. Uncompressed parquet:
    # payloads are already entropy-coded, so snappy on top costs CPU at
    # every write AND read for ~no size gain.
    run_dir = os.path.join(chunks_path(store), f"run_id={run_id}")
    try:
        encoded.write.mode("append").option("compression", "uncompressed").parquet(run_dir)
    finally:
        if restore_conf:
            for key, val in restore_conf.items():
                spark.conf.set(key, val)
    t1 = time.monotonic()

    # lineage commit, on the driver: per-part metrics from the run's own
    # files (top-level fields only), then one atomic manifest file
    mine = run_manifest_rows(store, run_id, (t1 - t0) * 1000)
    if not commit:
        # staged run (compaction rewrite): chunk files exist but are
        # INVISIBLE — the caller swaps them in atomically via the lineage
        # pointer. A crash leaves an orphan run dir for vacuum_store.
        return metrics(run_id, t0, t1, mine)
    commit_run(store, mine, run_id)
    return metrics(run_id, t0, t1, read_manifest(store))
