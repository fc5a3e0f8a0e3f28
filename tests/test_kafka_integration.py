"""Opt-in REAL-broker Kafka integration tests (reference parity).

The reference ships live-broker tests demonstrating consumer-group
behavior past ``max.poll.interval``
(``tests/kafka_integration_tests.py:10-164``: a stalled consumer's
commit fails with UNKNOWN_MEMBER_ID, and the consumer self-heals on the
next poll). This module is the Spark-first twin for the engine's real
production path — ``readStream.format("kafka")`` — and proves the
property that REPLACES that failure mode: Spark tracks offsets
driver-side in the checkpoint WAL, not via consumer-group commits, so
an arbitrarily long pause between micro-batches can neither fail a
commit nor duplicate/lose records on restart. (The mocked-broker twin
``KafkaLogSource`` pins the same invariants hermetically in
``tests/test_kafka_source.py``.)

Opt-in: set ``KAFKA_BROKER_URL`` (e.g. ``localhost:19092``) with a
reachable broker and have ``confluent_kafka`` or ``kafka-python``
installed for the producer side; otherwise every test skips. The
sandbox has neither — these tests document and verify the production
wiring wherever a broker exists (CI with Redpanda, a dev cluster).
"""

from __future__ import annotations

import json
import os
import socket
import time
import uuid

import pytest

BROKER = os.environ.get("KAFKA_BROKER_URL", "")

# Spark needs the kafka connector jars on the classpath; a session built
# for these tests must add them (downloaded from Maven at session start):
KAFKA_PACKAGE = "org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0"


def _broker_reachable() -> bool:
    if not BROKER or ":" not in BROKER:
        return False
    host, port = BROKER.rsplit(":", 1)
    try:
        with socket.create_connection((host, int(port)), timeout=2):
            return True
    except OSError:
        return False


def _producer():
    """A minimal produce(topic, key, value) callable from whichever
    client library is installed, or None."""
    try:
        from confluent_kafka import Producer

        prod = Producer({"bootstrap.servers": BROKER, "enable.idempotence": True})

        def produce(topic: str, key: bytes, value: bytes) -> None:
            prod.produce(topic=topic, key=key, value=value)
            prod.poll(0)

        produce.flush = prod.flush  # type: ignore[attr-defined]
        return produce
    except ImportError:
        pass
    try:
        from kafka import KafkaProducer

        prod = KafkaProducer(bootstrap_servers=BROKER)

        def produce(topic: str, key: bytes, value: bytes) -> None:
            prod.send(topic, key=key, value=value)

        produce.flush = prod.flush  # type: ignore[attr-defined]
        return produce
    except ImportError:
        return None


pytestmark = pytest.mark.skipif(
    not _broker_reachable() or _producer() is None,
    reason="opt-in integration test: set KAFKA_BROKER_URL to a reachable "
    "broker and install confluent_kafka or kafka-python",
)


@pytest.fixture(scope="module")
def kafka_spark():
    """Session with the kafka connector package (separate from the main
    test session: spark.jars.packages must be set before JVM start)."""
    from motorway_spark.session import get_session

    session = get_session(
        "kafka-integration",
        cpus=4,
        extra_conf={"spark.jars.packages": KAFKA_PACKAGE},
    )
    yield session
    session.stop()


def _read_topic(spark, topic: str, checkpoint: str, table: str):
    """One AvailableNow drain of the topic into a memory sink, offsets
    committed to ``checkpoint`` — the engine's real Kafka read path."""
    stream = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", BROKER)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
    )
    query = (
        stream.writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120)
    if query.isActive:
        query.stop()
    return spark.table(table)


def test_roundtrip_keys_and_values(kafka_spark, tmp_path):
    """Produced records arrive exactly once with key and value intact."""
    topic = f"mwspark_it_{uuid.uuid4().hex[:8]}"
    produce = _producer()
    for i in range(5):
        produce(topic, f"k{i}".encode(), json.dumps({"i": i}).encode())
    produce.flush()

    got = _read_topic(
        kafka_spark, topic, str(tmp_path / "ckpt"), f"t_{uuid.uuid4().hex[:8]}"
    ).collect()
    assert sorted(r["key"] for r in got) == [f"k{i}" for i in range(5)]
    assert sorted(json.loads(r["value"])["i"] for r in got) == list(range(5))


def test_restart_after_long_pause_neither_fails_nor_duplicates(kafka_spark, tmp_path):
    """The Spark-side replacement for the reference's max.poll.interval
    tests: stop the query, idle PAST a short poll interval, produce
    more, restart from the same checkpoint — the second drain must
    return ONLY the new records (offsets resumed from the WAL, no
    consumer-group commit to fail, no replays)."""
    topic = f"mwspark_it_{uuid.uuid4().hex[:8]}"
    ckpt = str(tmp_path / "ckpt")
    produce = _producer()
    for i in range(3):
        produce(topic, f"a{i}".encode(), b"first")
    produce.flush()

    first = _read_topic(kafka_spark, topic, ckpt, f"t_{uuid.uuid4().hex[:8]}")
    assert first.count() == 3

    # exceed any plausible poll-interval/session-timeout while no query
    # is running — the condition that broke the reference's consumer
    time.sleep(10)

    for i in range(4):
        produce(topic, f"b{i}".encode(), b"second")
    produce.flush()

    second = _read_topic(kafka_spark, topic, ckpt, f"t_{uuid.uuid4().hex[:8]}").collect()
    assert sorted(r["key"] for r in second) == [f"b{i}" for i in range(4)]
