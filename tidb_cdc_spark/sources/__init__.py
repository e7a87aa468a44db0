"""Source builders: Kafka (the reference's only source) and files
(JSON-lines of Maxwell events for tests/replay; Parquet for batch).
"""

from tidb_cdc_spark.sources.kafka import KafkaSourceConfig, kafka_stream
from tidb_cdc_spark.sources.files import (
    kafka_shaped_file_stream,
    maxwell_file_batch,
    maxwell_file_stream,
)

__all__ = [
    "KafkaSourceConfig",
    "kafka_stream",
    "kafka_shaped_file_stream",
    "maxwell_file_batch",
    "maxwell_file_stream",
]
