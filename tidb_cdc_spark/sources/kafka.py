"""Kafka source builder.

Reference parity: ``NewConsumerGroup`` + ``ConsumerGroup.Start``
(``/root/reference/cdc_manager.go:50-188``) — broker list, topic,
group, start position, consumer parallelism, plus the SASL fields the
reference declares but never reads (``config.go:24-26`` — wired here,
SURVEY §7.5 divergence #4).

What the reference hand-rolls, Spark's Kafka source owns: partition
assignment/rebalancing (assignor flags, cdc_manager.go:128-137),
offset tracking (MarkMessage, :299 → checkpointing), and parallelism
(NumOfConsumers goroutines, :353-360 → task-per-partition, scaled
further with minPartitions). Start position maps oldest→earliest /
latest→latest (NB the reference's comment at config.go:16 is
inverted relative to its code; we follow the CODE: default oldest).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class KafkaSourceConfig:
    """Validated source options (the reference's defaulting lives in
    NewConsumerGroup, cdc_manager.go:62-94)."""

    brokers: list[str]
    topic: str | None = None
    group: str | None = None  # default: topic name (cdc_manager.go:75-77)
    #: regex over topic names (Spark ``subscribePattern``) — the
    #: shared-consumer mode: one source for every ``server.db.table``
    #: topic of a deployment. Exactly one of topic/topic_pattern.
    topic_pattern: str | None = None
    starting_offsets: str = "earliest"  # 'oldest' default (cdc_manager.go:139-141)
    max_offsets_per_trigger: int | None = None  # backpressure (absent in reference)
    min_partitions: int | None = None  # oversplit beyond Kafka partitions
    fail_on_data_loss: bool = False
    # SASL — dead config in the reference (config.go:24-26); real here.
    sasl_enabled: bool = False
    sasl_user: str | None = None
    sasl_password: str | None = None
    sasl_mechanism: str = "SCRAM-SHA-256"
    extra: dict[str, str] = field(default_factory=dict)

    def __post_init__(self):
        if not self.brokers:
            raise ValueError("at least one broker required")
        if bool(self.topic) == bool(self.topic_pattern):
            raise ValueError("exactly one of topic / topic_pattern required")
        if self.starting_offsets not in ("earliest", "latest"):
            raise ValueError("starting_offsets must be earliest|latest")
        if self.sasl_enabled and not (self.sasl_user and self.sasl_password):
            raise ValueError("SASL enabled but user/password missing")

    def options(self) -> dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": ",".join(self.brokers),
            "startingOffsets": self.starting_offsets,
            "failOnDataLoss": str(self.fail_on_data_loss).lower(),
        }
        if self.topic:
            opts["subscribe"] = self.topic
        else:
            opts["subscribePattern"] = self.topic_pattern
        if self.group:
            opts["kafka.group.id"] = self.group
        if self.max_offsets_per_trigger:
            opts["maxOffsetsPerTrigger"] = str(self.max_offsets_per_trigger)
        if self.min_partitions:
            opts["minPartitions"] = str(self.min_partitions)
        if self.sasl_enabled:
            jaas = (
                "org.apache.kafka.common.security.scram.ScramLoginModule required "
                f'username="{self.sasl_user}" password="{self.sasl_password}";'
            )
            opts.update(
                {
                    "kafka.security.protocol": "SASL_SSL",
                    "kafka.sasl.mechanism": self.sasl_mechanism,
                    "kafka.sasl.jaas.config": jaas,
                }
            )
        opts.update(self.extra)
        return opts


def kafka_stream(spark: SparkSession, cfg: KafkaSourceConfig) -> DataFrame:
    """Streaming DataFrame of raw Kafka records (key/value binary +
    topic/partition/offset/timestamp) — the engine's ``_seq`` for
    per-key ordering is the Kafka offset downstream."""
    reader = spark.readStream.format("kafka")
    for k, v in cfg.options().items():
        reader = reader.option(k, v)
    return reader.load()
