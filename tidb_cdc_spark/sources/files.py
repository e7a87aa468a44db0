"""File sources for Maxwell event streams.

The reference's own golden data is a JSON file captured from Kafka
(``/root/reference/test/fff.json`` via ``test/ko.go:69``); a
JSON-lines directory is the natural replay/test source, and the
streaming variant exercises the exact same parse expressions as the
Kafka path (Structured Streaming is source-agnostic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def maxwell_file_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch read: one Maxwell JSON document per line → ``value``."""
    return spark.read.text(path)


def maxwell_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of a growing directory of JSON-lines files —
    micro-batch sizing via maxFilesPerTrigger mirrors Kafka's
    maxOffsetsPerTrigger backpressure."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


#: Column layout Spark's Kafka source produces (the subset the engine
#: consumes); the fake below matches it so the Connector's offset-
#: ordering path is identical for both.
KAFKA_ENVELOPE_SCHEMA = "topic string, partition int, offset long, value string"


def kafka_shaped_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Kafka-SHAPED replay source: JSON-lines rows carrying the Kafka
    envelope columns (topic, partition, offset, value).

    This is the broker-free twin of ``kafka_stream`` — same columns,
    so the Connector detects ``offset`` and feeds it to
    ``parse_cdc(seq_col=offset)``, exercising the reference's
    offset-ordering / commit contract (consume loop + MarkMessage,
    ``cdc_manager.go:109-188``, ``:299``) end-to-end: within a ts tie
    the HIGHER offset wins conflation, and checkpointed restarts
    resume past consumed files exactly like committed offsets."""
    reader = spark.readStream.format("json").schema(KAFKA_ENVELOPE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)
