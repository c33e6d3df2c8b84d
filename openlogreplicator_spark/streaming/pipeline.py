"""Streaming sink and metrics pieces beside Spark's own sources and
sinks; `engine.build_pipeline` imports :func:`observed` and
:func:`kafka_foreach_batch`.

Reference mapping (SURVEY §2.1):
- W2 Kafka sink       → :func:`kafka_foreach_batch` (wire-protocol
  producer per partition)
- W8 metrics          → :func:`observed` df.observe() counters
- B8 heartbeat        → per-batch progress events
  (:class:`MetricsListener`, a StreamingQueryListener)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def observed(df: DataFrame, name: str = "olr_metrics") -> DataFrame:
    """Attach engine counters (reference Metrics.h:49-140 analog):
    rows seen, DML ops out, bytes-ish proxy."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.when(F.col("op").isin("c", "u", "d"), 1).otherwise(0)).alias(
            "dml_out"
        ),
    )


def kafka_foreach_batch(bootstrap: str, topic: str, batch_rows: int = 1000):
    """W2 delivery: a foreachBatch sink producing each micro-batch to
    Kafka over the wire protocol (streaming/kafka_wire.py). The produce
    runs EXECUTOR-side per partition — each task opens one producer and
    ships its rows in message sets, the distributed shape of the
    reference's single librdkafka producer (WriterKafka.cpp:123-155;
    key = tag bytes, value = rendered message). Delivery semantics are
    at-least-once under Spark's checkpoint (a failed batch replays), the
    same guarantee librdkafka acks=1 gives the reference; the acked base
    offset plays the delivery-report confirm."""

    def write(batch_df, _epoch_id) -> None:
        def send_partition(rows) -> None:
            from openlogreplicator_spark.streaming.kafka_wire import (
                KafkaWireProducer,
            )

            producer = None
            buf: list[tuple[bytes | None, bytes]] = []
            try:
                from openlogreplicator_spark.streaming.stream_network \
                    import to_bytes

                for r in rows:
                    value = to_bytes(r["value"])
                    if value is None:
                        # a null value would ship as a Kafka tombstone
                        # (a delete marker) — that's a builder bug, not
                        # a message; fail the batch loudly
                        raise ValueError(
                            "null message value reached the kafka sink"
                        )
                    buf.append((to_bytes(r["key"]), value))
                    if len(buf) >= batch_rows:
                        producer = producer or KafkaWireProducer(
                            bootstrap, topic
                        )
                        producer.send(buf)
                        buf = []
                if buf:
                    producer = producer or KafkaWireProducer(bootstrap, topic)
                    producer.send(buf)
            finally:
                if producer is not None:
                    producer.close()

        batch_df.select("key", "value").foreachPartition(send_partition)

    return write


class MetricsListener:
    """StreamingQueryListener-shaped collector (W8). Kept import-safe for
    environments without an active session."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def attach(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        # re-attach replaces (never orphans) a previous listener; detach
        # before attach was an AttributeError that masked the caller's
        # real teardown error (r12 review-pass-11)
        if getattr(self, "_listener", None) is not None:
            spark.streams.removeListener(self._listener)
        self._listener = _L()
        spark.streams.addListener(self._listener)

    def detach(self, spark: SparkSession) -> None:
        if getattr(self, "_listener", None) is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None
