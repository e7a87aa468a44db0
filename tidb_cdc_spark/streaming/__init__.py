"""Streaming runtime: multi-table Connector registry, merge sinks,
and watermarked window operators.
"""

from tidb_cdc_spark.streaming.sinks import (
    HandlerSink,
    JdbcMergeSink,
    MemorySink,
    ParquetSnapshotSink,
    Scd2SplitHistorySink,
    Sink,
)
from tidb_cdc_spark.streaming.connector import Connector, ConnectorConfig
from tidb_cdc_spark.streaming.enrich import (
    CountMinSink,
    AudioWindowAdmissionSink,
    DigestAdmissionSink,
    HllDistinctSink,
    IvfIndexSink,
    NearDupAdmissionSink,
    PcaMomentSink,
    PhashAdmissionSink,
    WinnowOverlapSink,
)
from tidb_cdc_spark.streaming.metrics import StreamMetrics, attach_metrics

__all__ = [
    "Connector",
    "ConnectorConfig",
    "CountMinSink",
    "AudioWindowAdmissionSink",
    "DigestAdmissionSink",
    "HllDistinctSink",
    "IvfIndexSink",
    "NearDupAdmissionSink",
    "PcaMomentSink",
    "PhashAdmissionSink",
    "WinnowOverlapSink",
    "StreamMetrics",
    "attach_metrics",
    "Sink",
    "ParquetSnapshotSink",
    "Scd2SplitHistorySink",
    "JdbcMergeSink",
    "HandlerSink",
    "MemorySink",
]
