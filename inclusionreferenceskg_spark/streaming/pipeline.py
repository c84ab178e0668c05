"""Structured Streaming ingest: a WARC-drop directory -> KG tables.

The batch operators compose directly onto streams because they are either
stateless per-page transforms (parse, detect — ``mapInPandas`` works
unchanged on streaming DataFrames) or bounded aggregations expressed with
watermarks.  The cross-document stages (target resolution, entity linking,
CC) are not incremental algorithms; they run per micro-batch via
``foreachBatch``, which is exactly the checkpointed batch pipeline applied
to each file drop — giving end-to-end exactly-once through the streaming
checkpoint + deterministic ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from inclusionreferenceskg_spark.operators.detect import detect_mentions
from inclusionreferenceskg_spark.operators.parse import parse_pages
from inclusionreferenceskg_spark.plans.pipeline import run_pipeline
from inclusionreferenceskg_spark.synth import PAGES_SCHEMA


def stream_pages(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int = 8) -> DataFrame:
    """File-source page stream (one parquet drop = one micro-batch slice)."""
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def stream_mentions(pages_stream: DataFrame) -> DataFrame:
    """Stateless streaming mention extraction: parse -> detect."""
    return detect_mentions(parse_pages(pages_stream))


def stream_page_stats(pages_stream: DataFrame,
                      watermark: str = "1 hour",
                      window: str = "1 hour") -> DataFrame:
    """Watermarked windowed ingestion stats per language (late pages beyond
    the watermark are dropped deterministically)."""
    return (pages_stream
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), "lang")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("text")).alias("n_chars")))


def run_stream_to_triples(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str,
                          available_now: bool = True):
    """Micro-batch KG construction via foreachBatch (exactly-once through
    the streaming checkpoint; batch pipeline is deterministic)."""
    pages = stream_pages(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        result = run_pipeline(batch_df)
        (result.triples
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(output_dir))

    writer = (pages.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_upsert(spark: SparkSession, input_dir: str,
                      workdir: str, checkpoint_dir: str,
                      available_now: bool = True):
    """Crawl-refresh stream with CONTENT-change handling: each micro-batch
    goes through ``plans.checkpoint.run_upsert``, so new urls append,
    urls whose text changed are copy-on-write rewritten at partition
    granularity, and unchanged redeliveries are no-ops (the fingerprint
    probe makes the sink idempotent under at-least-once delivery)."""
    from inclusionreferenceskg_spark.plans.checkpoint import run_upsert

    pages = stream_pages(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_upsert(spark, batch_df, workdir)

    writer = (pages.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
