"""Structured-Streaming ingestion into the chunk store.

The reference has no streaming surface (SURVEY.md §2.4) — this is the
engine's Spark-native extension for continuous transcript ingestion:
``readStream`` source → ``foreachBatch`` → the SAME batch encode job per
micro-batch, committing one lineage run per batch.

Exactly-once: the run id is derived from the batch id, and a replayed batch
(after a failure between the data write and the checkpoint commit) is
detected in the lineage manifest and skipped — together with the data-before-lineage
write order this makes ingestion idempotent end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..chunkstore import read_manifest
from ..jobs.encode import encode_table
from ..sources.session import DEFAULT_CHUNK_ROWS


def encode_stream(
    stream_df: DataFrame,
    store: str,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    num_parts: int | None = None,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the streaming encode; returns the StreamingQuery.

    ``trigger_available_now=True`` drains whatever the source currently has
    and stops (the batch-ingest shape); pass False for a continuous
    micro-batch trigger.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_id = f"stream-{batch_id:010d}"
        if run_id in read_manifest(store).column("run_id").to_pylist():
            return  # replayed batch after a mid-commit failure: idempotent skip
        encode_table(
            batch_df,
            store,
            key_cols=key_cols,
            chunk_rows=chunk_rows,
            num_parts=num_parts,
            resume=False,
            run_id=run_id,
        )

    writer = stream_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint or f"{store}/_stream_checkpoint"
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
