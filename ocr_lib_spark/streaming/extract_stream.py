"""Streaming extraction + windowed metrics.

The reference has no streaming (progress atoms are its only live state,
core.clj:15-19). Here the batch extraction core is reused verbatim under
Structured Streaming — the Arrow kernel stage is stateless per turn, so the
streaming plan is the batch plan with a source swap, plus a watermarked
tumbling-window metrics aggregation (late turns tolerated up to the
watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_lib_spark.config import DEFAULT_CONFIG, ExtractionConfig
from ocr_lib_spark.pipeline import _map_extract
from ocr_lib_spark.sources.synth import transcripts_spark_schema


def stream_transcripts(spark, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of transcript parquet (kafka in production —
    same downstream plan)."""
    return (
        spark.readStream.schema(transcripts_spark_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(transcripts: DataFrame, cfg: ExtractionConfig = DEFAULT_CONFIG) -> DataFrame:
    """Streaming twin of pipeline.extract_turns: the same kernel stage
    with no repartition (the micro-batch split is the parallelism unit),
    keeping ts for watermarks."""
    return _map_extract(transcripts, cfg, carry=("ts",))


def windowed_extraction_metrics(
    extracted: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-window extraction metrics with late-data watermark — the
    durable recast of the reference's progress-percentage atoms
    (core.clj:21-44)."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("extracted_text") != "", 1).otherwise(0)).alias(
                "n_content_turns"
            ),
            F.sum("n_blocks").alias("n_blocks"),
        )
        .select(F.col("w.start").alias("window_start"), "n_turns", "n_content_turns", "n_blocks")
    )
