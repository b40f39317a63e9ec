"""Decode job — distributed ``decodeArray8`` sweep with roundtrip checking.

Reads visible chunk rows (lineage-committed only) and reassembles table rows
inside one vectorized Arrow kernel per chunk. Because the store keeps ONE row
per chunk (all column payloads in that row's structs), the plan is a pure
scan → ``mapInArrow`` — **no shuffle anywhere on the read path**: at 100 TB
the scan streams straight from storage into the decode kernel. Row order
within a chunk is positional (all columns of a chunk were sliced from the
same sorted batch), so per-conv ordering is restored globally by sorting on
the decoded key columns — which is exactly the invariant the driver checks
(per-turn text equality under stable (conv_id, turn_idx) ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F

from ..chunkstore import load_store_schema, read_payloads, store_colspecs

_SPARK_OF_LOGICAL = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "timestamp_us": T.TimestampType(),
    "timestamp_ntz_us": T.TimestampNTZType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
}


def decode_column_arrow(payload: bytes, n: int, logical: str, companion=None):
    from ..select import (
        decode_double_column_arrow,
        decode_int_column_arrow,
        decode_string_column_arrow,
    )

    if logical == "string":
        return decode_string_column_arrow(payload, n)
    if logical == "double":
        return decode_double_column_arrow(payload, n)
    return decode_int_column_arrow(payload, n, logical, companion=companion)


# Spark's Arrow bridge wants exact types: string (not large_string) and
# tz-aware timestamps for TimestampType (session tz is pinned to UTC)
def _pa_of_logical():
    import pyarrow as pa

    return {
        "int32": pa.int32(),
        "int64": pa.int64(),
        "timestamp_us": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz_us": pa.timestamp("us"),
        "string": pa.string(),
        "double": pa.float64(),
    }


def _decode_schema(logical_of, names) -> T.StructType:
    """Spark schema of decoded ``names`` columns."""
    return T.StructType(
        [T.StructField(n, _SPARK_OF_LOGICAL[logical_of[n]], True) for n in names]
    )


def decode_table(
    spark: SparkSession,
    store: str,
    columns: list[str] | None = None,
    parts: list[int] | None = None,
    snapshot: int | None = None,
) -> DataFrame:
    """Reassembled table DataFrame from the chunk store (column-prunable).

    ``snapshot``: time travel — decode the rows committed at that snapshot
    (``chunkstore.snapshot_store``), ignoring later appends/compactions.

    Shuffle-free: each chunk row is self-contained, so the kernel decodes it
    where the scan task read it. The ``c_<col>.payload`` leaf selection
    reaches the Parquet ``ReadSchema`` (nested schema pruning), so pruned
    columns' payload bytes are never read. The kernel is Arrow-native
    (``mapInArrow``): decoded columns return to the JVM as Arrow buffers —
    strings never materialize as Python objects."""
    import pyarrow as pa

    doc = load_store_schema(store)
    colspecs = store_colspecs(doc)
    if columns is not None:
        colspecs = [cs for cs in colspecs if cs[0] in columns]
    names = [n for n, _ in colspecs]
    out_schema = _decode_schema(dict(colspecs), names)
    pa_types = _pa_of_logical()
    sel, reader = read_payloads(spark, store, names, snapshot=snapshot, doc=doc)

    def kernel(batches):
        for rb in batches:
            for n, cols in reader.rows(rb):
                arrays = []
                for name, (payload, companion) in cols.items():
                    logical = reader.logical_of[name]
                    arrays.append(
                        decode_column_arrow(payload, n, logical, companion=companion)
                        .cast(pa_types[logical])
                    )
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    if parts is not None:
        # pushable top-level predicate: parquet row-group stats skip chunk
        # rows of other parts before any payload bytes are read
        sel = sel.filter(F.col("part_id").isin([int(p) for p in parts]))
    return sel.mapInArrow(kernel, out_schema)
