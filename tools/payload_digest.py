"""Per-column payload digests of one parquet table, encoded without Spark.

The table is key-sorted, sliced into ``--chunk-rows`` chunks, and every
column chunk goes through the encode job's own kernel
(``jobs.encode._encode_one_arrow``) with one race memo per column, as one
encode task sees a column's chunks in order. For each column it prints a
sha256 prefix over the chunks' codec names and payloads, the total payload
bytes and a codec histogram. Two checkouts that print the same lines store
the same bytes for this table at this chunk size, so a "same bytes" claim
is one command run on both sides.

Chunk size matters: the var and var_la race legs only enter at 4096 values
per chunk, so a check of those legs needs ``--chunk-rows`` of at least that.

Usage: python tools/payload_digest.py <table.parquet> --keys a,b --chunk-rows N
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _logical(t) -> str | None:
    import pyarrow as pa

    if pa.types.is_int32(t):
        return "int32"
    if pa.types.is_int64(t):
        return "int64"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t) and t.unit == "us":
        return "timestamp_us" if t.tz else "timestamp_ntz_us"
    return None


def column_digests(path: str, keys: list[str], chunk_rows: int) -> list[str]:
    """One report line per column of the table at ``path``."""
    import pyarrow.parquet as pq

    from learn_to_compress_spark.jobs.encode import _encode_one_arrow

    tbl = pq.read_table(path)
    if keys:
        tbl = tbl.sort_by([(k, "ascending") for k in keys])
    lines = []
    for field in tbl.schema:
        logical = _logical(field.type)
        if logical is None:
            lines.append(f"{field.name} {field.type} skipped")
            continue
        col = tbl.column(field.name)
        memo: dict = {}
        h = hashlib.sha256()
        codecs: Counter = Counter()
        total = 0
        for s in range(0, tbl.num_rows, chunk_rows):
            name, payload, _ = _encode_one_arrow(col.slice(s, chunk_rows), logical, memo=memo)
            h.update(name.encode() + b"\0" + payload)
            codecs[name] += 1
            total += len(payload)
        hist = ",".join(f"{k}:{v}" for k, v in sorted(codecs.items()))
        lines.append(
            f"{field.name} {logical} sha256={h.hexdigest()[:16]} bytes={total} codecs={hist}"
        )
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parquet")
    ap.add_argument("--keys", default="", help="comma-separated sort keys")
    ap.add_argument("--chunk-rows", type=int, required=True)
    args = ap.parse_args(argv)
    keys = [k for k in args.keys.split(",") if k]
    for line in column_digests(args.parquet, keys, args.chunk_rows):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
