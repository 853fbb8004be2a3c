"""Structured-Streaming ingest variant.

The reference is pure batch (SURVEY §2.8) — its "streaming" is rerun-from-CSV.
At crawl scale, new WARC/CCNet shards arrive continuously, so we provide a
file-source streaming ingest: ``readStream`` over the web_pages parquet
directory → ``foreachBatch`` running the SAME batch extraction plan per
micro-batch (one Python crossing per document; each Python worker keeps
its taxonomy memo across batches, like the reference's memoized map) →
append to the triples sink with exactly-once semantics via the checkpoint
location. ``availableNow`` drains the backlog
and stops — which doubles as the test mode.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.pipeline import extract_triples
from ..sources.corpus import DOCS_SCHEMA


def stream_extract_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (and with ``available_now`` await) the streaming extraction.

    Returns the StreamingQuery. Exactly-once: the file source tracks consumed
    files in the checkpoint, and each micro-batch OVERWRITES its own
    deterministic ``batch_id=<n>`` partition directory — a crash between the
    write and the checkpoint commit replays the batch into the same path
    instead of appending duplicates. Readers see one ``batch_id`` partition
    column via ``spark.read.parquet(output_dir)``.
    """
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process(batch_df, batch_id: int):
        triples = extract_triples(batch_df)
        triples.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
    else:
        query = writer.start()
    return query
