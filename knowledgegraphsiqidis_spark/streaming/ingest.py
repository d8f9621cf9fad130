"""Structured Streaming ingest (optional extension — SURVEY.md §2.9).

The reference is purely batch (SURVEY.md §1.3); the streaming surface here
ingests newly-landed transcript files via ``foreachBatch`` into ONE
continuously-growing graph: each micro-batch's new surface forms resolve
against the cumulative canonical store (``streaming.incremental`` — the
reference's resolve-against-growing-store semantics,
extraction_pipeline.py:615-733, at batch granularity).  A conversation is
assumed complete within a micro-batch file.  Files may arrive in any
conv_id order: by default (``out_of_order="resolve"``) IncrementalKG
rebuilds ER from its extraction archive for a batch that carries
conversations earlier than the store's high-water mark; only
``out_of_order="strict"`` raises on such a batch.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TRANSCRIPTS
from .incremental import IncrementalKG


def stream_transcripts(spark: SparkSession, input_dir: str,
                       out_dir: str, checkpoint_dir: str,
                       trigger_once: bool = True):
    """readStream over a transcript parquet directory → incremental KG.

    State layout under ``out_dir``: see the ``streaming.incremental``
    module docstring (extraction archive per batch; generation-scoped
    matches/block_index/form_component/edges; versioned snapshots; atomic
    state-pointer commits).
    ``IncrementalKG(spark, out_dir).triples()`` reads the whole graph at
    any point.
    """
    stream = (spark.readStream
              .schema(TRANSCRIPTS)
              .option("maxFilesPerTrigger", 8)
              .parquet(input_dir))
    kg = IncrementalKG(spark, out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int):
        kg.process_batch(batch_df, batch_id)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
