"""Structured Streaming ingest: encode micro-batches into an encoded
table with exactly-once snapshot commits.

Shape: ``readStream`` source -> ``foreachBatch`` -> the same narrow
encode kernel as batch -> commit record stamped with the epoch id.
Exactly-once comes from two layers: Spark's checkpoint replays an
epoch at most once per restart, and the commit log skips epochs it has
already committed (so a crash between sink write and checkpoint
advance cannot double-ingest).

At scale this is the incremental leg of the crawl pipeline: each
arriving WARC dump directory becomes one epoch; chunk lineage rows and
resume semantics are identical to the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..engine.core import DEFAULT_CHUNK_ROWS, encode_dataframe
from ..engine.manifest import EncodedTable


def encode_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    root: str,
    table: str,
    columns: list[str] | None = None,
    codec: str | dict = "auto",
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Start (and by default drain) a streaming encode. Returns the
    StreamingQuery; with ``available_now`` the call blocks until all
    currently-available input is committed."""
    t = EncodedTable(root)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in t.committed_epochs(table):
            return  # replayed epoch after restart: already in snapshot
        if batch_df.isEmpty():
            return
        enc = encode_dataframe(
            batch_df, columns, codec=codec, chunk_rows=chunk_rows, table_name=table
        )
        t.commit(batch_df.sparkSession, enc, table, epoch=epoch_id)

    writer = stream_df.writeStream.foreachBatch(handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
