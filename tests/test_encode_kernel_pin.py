"""Golden digest of the encode kernel's chunk rows, without Spark.

``_make_kernel`` turns key-sorted input batches into chunk-store rows: per
chunk the metadata fields and, per column, the struct of codec, payload,
zone maps, sums and byte counts (``chunkstore.chunk_schema``). The digest
covers every leaf of every emitted row, so a change to how the row is
assembled (field order, a dropped zone map, the linked override of codec,
payload and ``enc_bytes``) shows up here, while a store digest over codec
and payload alone would not see it. Chunks stay under the race's
4096-value regressor gate, so the digest does not depend on whether a
race-pruning regressor is installed."""

import hashlib

import numpy as np
import pyarrow as pa

from learn_to_compress_spark.jobs.encode import _make_kernel

COLSPECS = [
    ("conv_id", "string"),
    ("turn_idx", "int32"),
    ("ts", "timestamp_us"),
    ("seq", "int64"),
    ("role", "string"),
    ("text", "string"),
    ("score", "double"),
]
CHUNK_ROWS = 700
PIN = "192d21b3da1a047166a7fff0dc8e09b423b055402f0dae42498e4e926cfcdc1b"


def _batch() -> pa.RecordBatch:
    """Two parts of key-sorted rows with nulls in the string columns, a
    column linear in ``ts`` (the linked target) and an empty-string mix."""
    rng = np.random.default_rng(7)
    parts = []
    for part, n in ((3, 1500), (5, 900)):
        conv = np.sort(rng.integers(0, 40, n))
        turn = np.concatenate([np.arange(c) for c in np.bincount(conv)]).astype(np.int32)
        ts = np.sort(rng.integers(1_700_000_000_000_000, 1_700_100_000_000_000, n))
        seq = (ts - ts[0]) // 7_000_000 + rng.integers(-3, 4, n)
        words = np.array(["alpha", "beta", "gamma", "delta", "", "epsilon zeta"])
        text = [
            None if rng.random() < 0.05 else " ".join(rng.choice(words, rng.integers(1, 9)))
            for _ in range(n)
        ]
        role = [None if rng.random() < 0.3 else ("user", "assistant", "tool")[i % 3]
                for i in range(n)]
        parts.append(
            pa.record_batch(
                {
                    "conv_id": pa.array([f"c{c:04d}" for c in conv], pa.string()),
                    "turn_idx": pa.array(turn, pa.int32()),
                    "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                    "seq": pa.array(seq, pa.int64()),
                    "role": pa.array(role, pa.string()),
                    "text": pa.array(text, pa.string()),
                    "score": pa.array(np.round(rng.normal(0, 10, n), 2), pa.float64()),
                    "_part_id": pa.array(np.full(n, part, np.int32)),
                }
            )
        )
    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def _leaf_digest(batches) -> str:
    h = hashlib.sha256()
    tbl = pa.Table.from_batches(batches).flatten()
    for name in tbl.column_names:
        h.update(name.encode())
        for v in tbl.column(name).to_pylist():
            b = v if isinstance(v, bytes) else repr(v).encode()
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def test_encode_kernel_chunk_rows_pinned():
    kernel = _make_kernel(COLSPECS, CHUNK_ROWS, linked={"seq": "ts"})
    out = list(kernel(iter([_batch()])))
    tbl = pa.Table.from_batches(out)
    assert tbl.num_rows == 3 + 2  # 1500 rows in 700s, then 900
    assert "linked" in tbl.column("c_seq").combine_chunks().field("codec").to_pylist()
    assert _leaf_digest(out) == PIN
