"""Chunk store + lineage manifest — the Iceberg-style table layer.

The reference keeps compressed blocks as in-process ``uint8_t*`` descriptors
(``experiments/fix_int.cpp:58-79``); our descriptors are rows of a chunk-store
table. Layout v2 — **one row per chunk, one struct column per table column**:

``(part_id int, chunk_id long, n_rows int, raw_bytes long, enc_bytes long,
   c_<col> struct<codec string, payload binary, zmin long, zmax long,
                  vsum decimal(38,0), raw_bytes long, enc_bytes long> ...)``

Why this shape (the 100 TB argument): a chunk row is **self-contained**, so
every read-path operator is scan → ``mapInArrow`` with ZERO shuffle — no
regrouping of per-column payload rows is ever needed (v1 shuffled the whole
payload through a ``groupBy(chunk_id)`` exchange to reunite them). Column
pruning is native: selecting ``c_ts.payload`` makes Parquet read only that
leaf (nested schema pruning). Zone maps (``zmin``/``zmax``, the analogue of
``experiments/leco_int_fix_template.cpp:222-249``) are plain nested fields, so
chunk skipping is a pushable Parquet predicate instead of a broadcast join.
``vsum`` is the exact per-chunk value sum, making SUM a metadata-only scan
(cheaper than the reference's closed-form summation,
``headers/piecewise_fix_op.h:167-284`` — no payload bytes touched at all).

A **lineage manifest** provides Iceberg-like commit semantics in this
sandbox (no Iceberg jars): a partition's chunks are visible only if a lineage
row ``(part_id, run_id, metrics...)`` exists. The manifest is small (one row
per part per run) and lives on the driver, like Delta Lake's transaction log:
it is read and written with pyarrow, never by a Spark job. Each commit is
ONE parquet file, written under a dot-prefixed temp name and renamed into
place with ``os.replace`` — so a commit is all-or-nothing, and readers
(which skip dot- and underscore-prefixed names) never see a partial one.
Data files are written before the manifest file, so a killed job leaves
orphan chunk rows that readers never see, and a resumed job re-encodes only
parts without lineage — idempotent, atomic per partition. Readers resolve
the manifest on the driver into a ``run_id`` partition filter plus a
pushable ``part_id`` filter (``read_chunks``), so no read plan joins against
lineage. On a real deployment this maps 1:1 to Iceberg table commits + a
metrics table; only this module would change.

Every read is one scan, sized by the visible store's stored bytes (the
manifest's ``enc_bytes``, not the bytes a pruned read touches): the scan
coalesces to ``ceil(visible enc_bytes / SCAN_TASK_BYTES)`` partitions, so a
small store is one Python kernel task instead of one per chunk file (each
task pays a fixed worker set-up), while a store bigger than that many
Spark splits keeps Spark's own split count.
"""

from __future__ import annotations

import json
import math
import os
import re
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

# per-table-column struct. Parquet matches nested fields BY NAME, so the
# string zone maps appended in v2.1 (zsmin/zsmax) read as null on stores
# written before them — readers treat null as "no zone map, cannot prune".
COL_STRUCT = T.StructType(
    [
        T.StructField("codec", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("zmin", T.LongType(), True),
        T.StructField("zmax", T.LongType(), True),
        T.StructField("vsum", T.DecimalType(38, 0), True),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        # string zone maps: lexicographic min/max (UTF8-binary order, the
        # same collation Spark/DuckDB compare strings with) — lets string
        # range predicates prune chunks at the Parquet scan like int ones
        T.StructField("zsmin", T.StringType(), True),
        T.StructField("zsmax", T.StringType(), True),
        # non-null value count (v2.2) — makes AVG a metadata-only scan
        # (``vsum / nvalid``); null on pre-v2.2 stores, where readers fall
        # back to ``n_rows`` (exact whenever the column has no nulls)
        T.StructField("nvalid", T.LongType(), True),
    ]
)

_META_FIELDS = [
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("chunk_id", T.LongType(), False),
    T.StructField("n_rows", T.IntegerType(), False),
    T.StructField("raw_bytes", T.LongType(), False),
    T.StructField("enc_bytes", T.LongType(), False),
]


def col_field(name: str) -> str:
    """Struct-column name for table column ``name`` (prefixed to avoid
    collisions with the chunk metadata fields)."""
    return f"c_{name}"


def chunk_schema(colspecs: list[tuple[str, str]]) -> T.StructType:
    """Chunk-row schema for a table with the given (name, logical) columns."""
    fields = list(_META_FIELDS)
    for name, _logical in colspecs:
        fields.append(T.StructField(col_field(name), COL_STRUCT, True))
    return T.StructType(fields)


def chunk_run_schema(colspecs: list[tuple[str, str]]) -> T.StructType:
    """Chunk rows as read back: data fields + the ``run_id`` Hive-partition
    column filled from the ``run_id=<id>`` directory names."""
    return T.StructType(
        list(chunk_schema(colspecs).fields) + [T.StructField("run_id", T.StringType(), True)]
    )


#: one lineage row per (part, run): the driver-side manifest's schema
MANIFEST_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("run_id", pa.string()),
        ("n_chunks", pa.int64()),
        ("n_rows", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("wall_ms", pa.float64()),
    ]
)
LINEAGE_SCHEMA = from_arrow_schema(MANIFEST_SCHEMA)

#: stored bytes per read task: a visible scan coalesces to
#: ``ceil(enc_bytes / SCAN_TASK_BYTES)`` partitions. Set at the measured
#: crossover of a full decode (4 CPUs, PySpark 4.1.2, transcript stores
#: written by 4 tasks): one task per ~1 MiB was never slower than Spark's
#: 4 splits, one task per ~2 MiB was 3–4% slower and per 3.7 MiB 12%.
#: Filters and GROUP BY decode less per byte stored and gain up to ~4 MiB.
SCAN_TASK_BYTES = 1 << 20

_RUN_ID = re.compile(r"[A-Za-z0-9._-]+")


def check_run_id(run_id: str) -> str:
    """``run_id`` if it is safe as a Hive directory value and a SQL literal
    (``[A-Za-z0-9._-]+``); ``ValueError`` otherwise."""
    if not isinstance(run_id, str) or not _RUN_ID.fullmatch(run_id):
        raise ValueError(f"run_id must match [A-Za-z0-9._-]+, got {run_id!r}")
    return run_id


def chunks_path(store: str) -> str:
    return os.path.join(store, "chunks")


def lineage_path(store: str) -> str:
    return os.path.join(store, "lineage")


def lineage_pointer_path(store: str) -> str:
    return os.path.join(store, "_lineage_current.json")


def lineage_current_dir(store: str) -> str:
    """Directory holding the CURRENT lineage table.

    Iceberg-style metadata pointer: normally the flat ``lineage/`` dir;
    after a compaction it is a versioned ``lineage_v/<N>/`` dir named by
    ``_lineage_current.json``. The pointer file is swapped with
    ``os.replace`` — the atomic commit point of a compaction (the analogue
    of Iceberg's metadata-location CAS). Appends (encode runs, stream
    micro-batches) always land in the current dir, so a lineage version is
    append-only between compactions."""
    ptr = lineage_pointer_path(store)
    if os.path.exists(ptr):
        with open(ptr) as fh:
            return os.path.join(store, json.load(fh)["dir"])
    return lineage_path(store)


def schema_path(store: str) -> str:
    return os.path.join(store, "_schema.json")


def snapshots_dir(store: str) -> str:
    return os.path.join(store, "_snapshots")


def snapshot_store(spark: SparkSession, store: str) -> int:
    """Record an Iceberg-style SNAPSHOT: the currently-committed
    ``(part_id, run_id)`` set, written as an immutable manifest
    ``_snapshots/<id>.json`` (atomic ``os.replace``, ids monotone).

    Reads against a snapshot (``decode_table(..., snapshot=id)``) see
    exactly the rows committed at snapshot time — later appends land in
    new runs the manifest doesn't name, and a compaction rewrites into new
    runs while the snapshot keeps pinning the old ones (``vacuum_store``
    treats snapshot-referenced runs as live; ``drop_snapshot`` is the
    ``expire_snapshots`` analogue that releases them)."""
    man = read_manifest(store)
    pairs = [
        [p, r]
        for p, r in zip(man.column("part_id").to_pylist(), man.column("run_id").to_pylist())
    ]
    d = snapshots_dir(store)
    os.makedirs(d, exist_ok=True)
    sid = max(list_snapshots(store), default=0) + 1
    tmp = os.path.join(d, f".{sid}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"runs": pairs}, fh)
    os.replace(tmp, os.path.join(d, f"{sid}.json"))
    return sid


def list_snapshots(store: str) -> list[int]:
    d = snapshots_dir(store)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and not f.startswith(".")
    )


def snapshot_runs(store: str, snapshot: int) -> list[tuple[int, str]]:
    with open(os.path.join(snapshots_dir(store), f"{snapshot}.json")) as fh:
        return [(int(p), r) for p, r in json.load(fh)["runs"]]


def drop_snapshot(store: str, snapshot: int) -> None:
    """Release a snapshot (Iceberg ``expire_snapshots`` analogue): its runs
    become vacuum-reclaimable unless the current lineage or another
    snapshot still references them."""
    os.remove(os.path.join(snapshots_dir(store), f"{snapshot}.json"))


def load_store_schema(store: str) -> dict:
    """The persisted table schema + partition-mapping params
    (``colspecs``, ``key_cols``, ``num_parts``, ``salt_block``)."""
    with open(schema_path(store)) as fh:
        return json.load(fh)


def store_colspecs(doc: dict) -> list[tuple[str, str]]:
    """``(name, logical)`` per table column of a :func:`load_store_schema`
    doc, in store order."""
    return [tuple(cs) for cs in doc["colspecs"]]


def read_manifest(store: str, snapshot: int | None = None) -> pa.Table:
    """The visible lineage rows as an Arrow table, read on the driver.

    Every row is a commit: batch resume never re-encodes a committed part
    (so at most one batch run per part), while streaming appends commit one
    run per micro-batch into the same parts. Chunks from a run that died
    before its manifest file landed have no row here and stay invisible —
    the Iceberg-style atomicity contract. Rows are unique per
    ``(part_id, run_id)`` by construction (one row per part per run).

    ``snapshot``: the pinned pair set of that snapshot (time travel). A
    snapshot records pairs only, so its table has just ``part_id`` and
    ``run_id``. A missing or empty lineage dir is an empty table."""
    if snapshot is not None:
        pairs = snapshot_runs(store, snapshot)
        return pa.table(
            {
                "part_id": pa.array([p for p, _ in pairs], pa.int32()),
                "run_id": pa.array([r for _, r in pairs], pa.string()),
            }
        )
    path = lineage_current_dir(store)
    if not os.path.isdir(path):
        return MANIFEST_SCHEMA.empty_table()
    # the default ignore prefixes ("." and "_") skip in-flight temp files,
    # Spark's _SUCCESS markers and .crc sidecars of older stores
    return ds.dataset(path, schema=MANIFEST_SCHEMA, format="parquet").to_table()


def write_manifest(dirpath: str, rows: pa.Table, name: str) -> None:
    """Atomically add one manifest file ``dirpath/name``: write a
    dot-prefixed temp file (invisible to every reader), then ``os.replace``
    it into place — the commit point."""
    os.makedirs(dirpath, exist_ok=True)
    final = os.path.join(dirpath, name)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    pq.write_table(rows.cast(MANIFEST_SCHEMA), tmp)
    os.replace(tmp, final)


def commit_run(store: str, rows: pa.Table, run_id: str) -> None:
    """Make ``rows`` (one run's per-part lineage) visible: one new file in
    the current lineage dir."""
    write_manifest(
        lineage_current_dir(store), rows, f"{run_id}-{uuid.uuid4().hex[:8]}.parquet"
    )


def run_manifest_rows(store: str, run_id: str, wall_ms: float) -> pa.Table:
    """Per-part lineage rows of one run, aggregated on the driver from the
    run's own chunk files. Only the top-level ``part_id``/``n_rows``/
    ``raw_bytes``/``enc_bytes`` columns are read, never a payload."""
    run_dir = os.path.join(chunks_path(store), f"run_id={run_id}")
    if not os.path.isdir(run_dir):
        return MANIFEST_SCHEMA.empty_table()
    chunks = ds.dataset(run_dir, format="parquet").to_table(
        columns=["part_id", "n_rows", "raw_bytes", "enc_bytes"]
    )
    agg = chunks.group_by("part_id").aggregate(
        [("part_id", "count"), ("n_rows", "sum"), ("raw_bytes", "sum"), ("enc_bytes", "sum")]
    ).sort_by("part_id")
    n = agg.num_rows
    return pa.table(
        {
            "part_id": agg.column("part_id"),
            "run_id": pa.array([run_id] * n, pa.string()),
            "n_chunks": agg.column("part_id_count"),
            "n_rows": agg.column("n_rows_sum"),
            "raw_bytes": agg.column("raw_bytes_sum"),
            "enc_bytes": agg.column("enc_bytes_sum"),
            "wall_ms": pa.array([float(wall_ms)] * n, pa.float64()),
        }
    ).cast(MANIFEST_SCHEMA)


def manifest_totals(rows: pa.Table) -> tuple[int, int, int]:
    """``(n_rows, raw_bytes, enc_bytes)`` summed over manifest rows."""
    return tuple(
        int(sum(rows.column(c).to_pylist())) for c in ("n_rows", "raw_bytes", "enc_bytes")
    )


def read_lineage(spark: SparkSession, store: str) -> DataFrame:
    """The current manifest as a Spark DataFrame, for SQL over lineage.
    The engine itself reads the manifest with :func:`read_manifest`."""
    path = lineage_current_dir(store)
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. A checked id needs no escape; any
    other (a legacy id) is spelled as UTF-8 hex, so no quote or backslash
    reaches the parser and ``spark.sql.parser.escapedStringLiterals`` does
    not change its meaning."""
    if _RUN_ID.fullmatch(s):
        return f"'{s}'"
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def visible_predicate(manifest: pa.Table) -> str:
    """The manifest's ``(part_id, run_id)`` pairs as one chunk-row SQL
    predicate: ``run_id IN (…) AND part_id IN (…)``, one term per distinct
    part set (a batch run, or every micro-batch that touched the same
    parts, is one term). ``run_id`` is the Hive partition column, so Spark
    prunes whole run dirs at planning; the ``part_id`` list is a pushable
    Parquet predicate. Run ids are quoted literals: stores written before
    ids were checked may hold any id. An empty manifest matches nothing."""
    parts_of: dict[str, set[int]] = {}
    for p, r in zip(manifest.column("part_id").to_pylist(), manifest.column("run_id").to_pylist()):
        parts_of.setdefault(r, set()).add(int(p))
    runs_of: dict[frozenset, list[str]] = {}
    for r in sorted(parts_of):
        runs_of.setdefault(frozenset(parts_of[r]), []).append(r)
    if not runs_of:
        return "false"

    def run_in(runs):
        return f"run_id IN ({', '.join(_sql_str(r) for r in runs)})"

    terms = [
        f"({run_in(runs)} AND part_id IN ({', '.join(map(str, sorted(parts)))}))"
        for parts, runs in runs_of.items()
    ]
    if len(terms) == 1:
        return terms[0]
    # a disjunction mixing data columns is not a partition filter; the
    # leading run_id list keeps run-dir pruning at planning
    return f"{run_in(sorted(parts_of))} AND ({' OR '.join(terms)})"


def read_chunks(
    spark: SparkSession,
    store: str,
    columns: list[str] | None = None,
    leaves: list | None = None,
    snapshot: int | None = None,
    doc: dict | None = None,
) -> DataFrame:
    """Visible chunk rows: the driver resolves the lineage manifest (or the
    ``snapshot`` manifest) into one SQL predicate on the scan
    (:func:`visible_predicate`) — no join, no lineage job.

    The scan is coalesced to ``ceil(visible enc_bytes / SCAN_TASK_BYTES)``
    tasks (a coalesce only lowers Spark's split count). A snapshot manifest
    records no byte counts, so a time-travel read keeps Spark's splits.

    ``columns`` prunes to the named table columns' structs. ``leaves`` prunes
    harder: a list of Column expressions (nested-leaf selections like
    ``F.col("c_ts.payload").alias("p_ts")``) applied DIRECTLY on the scan —
    Spark's nested schema pruning only fires on Project(-over-Filter)-over-
    Relation. With ``leaves``, a payload-free operator (SUM over ``vsum``)
    reads zero payload bytes from Parquet. ``doc``: the store's schema doc,
    when the caller has already loaded it.
    """
    colspecs = store_colspecs(doc if doc is not None else load_store_schema(store))
    manifest = read_manifest(store, snapshot)
    df = spark.read.schema(chunk_run_schema(colspecs)).parquet(chunks_path(store))
    df = df.filter(visible_predicate(manifest))
    if leaves is not None:
        df = df.select("part_id", "run_id", *leaves).drop("part_id", "run_id")
    elif columns is not None:
        meta = [f.name for f in _META_FIELDS]
        df = df.select(*meta, "run_id", *[col_field(c) for c in columns])
    if snapshot is not None:
        return df
    return df.coalesce(max(1, math.ceil(manifest_totals(manifest)[2] / SCAN_TASK_BYTES)))
