"""Kafka transport wiring (SURVEY §2.1 S2/S3) with a file-based stand-in.

On a real cluster (spark-sql-kafka connector on the classpath) the
engine's payload DataFrames go straight to ``format("kafka")`` — the
per-row ``topic`` column replaces the reference's Go routing loop
(server/forwarder/kafka.go:60-73), and producer tuning (snappy,
linger) is connector config mirroring sarama's
(server/forwarder/kafka.go:38-42).

This container has no Kafka broker or connector jar, so ``FileBus``
provides the same produce/consume contract over a spooled parquet
directory: one "topic" per subdirectory, exactly the (topic, key,
value) triple Kafka would carry. Streaming reads use Spark's file
source, which gives the same micro-batch admission semantics
(maxFilesPerTrigger ≈ maxOffsetsPerTrigger backpressure, SURVEY §2.3 C1).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), False),
    ]
)

#: PAYLOAD_SCHEMA as Arrow — the schema of an in-process producer's
#: ``pyarrow.Table`` (ingest_http.ingest builds one per request).
PAYLOAD_ARROW_SCHEMA = to_arrow_schema(PAYLOAD_SCHEMA)


def kafka_available(spark: SparkSession) -> bool:
    try:
        # Class.forName, not attribute access: py4j resolves a missing
        # class path to a silent JavaPackage instead of raising.
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_broker_reachable(bootstrap: str, timeout: float = 1.0) -> bool:
    """TCP probe for a live broker — gates the conditional integration
    test (mirroring the reference's broker-backed tier,
    client/sync_int_test.go:66-100) without hanging when the sandbox
    has no Kafka."""
    import socket

    # bootstrap is the standard comma-separated multi-broker form
    # ("h1:9092,h2:9092", possibly with IPv6 literals "[::1]:9092");
    # reachable = ANY broker answers.
    for entry in bootstrap.split(","):
        entry = entry.strip()
        if not entry:
            continue
        if entry.startswith("["):  # IPv6 literal
            host, _, rest = entry[1:].partition("]")
            port = rest.lstrip(":")
        else:
            host, _, port = entry.partition(":")
        try:
            with socket.create_connection(
                (host, int(port or "9092")), timeout=timeout
            ):
                return True
        except (OSError, ValueError):
            continue
    return False


def read_payloads_kafka(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Batch read of (topic, key, value) from a Kafka topic — the test
    consumer's earliest-offset read-back (testing/consumer.go:36-56)."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .select("topic", "key", "value")
    )


def write_payloads_kafka(df: DataFrame, bootstrap: str, **producer_opts: str):
    """Kafka sink honoring the per-row topic column. Defaults mirror the
    reference producer: snappy compression, local acks, 1ms linger
    (server/forwarder/kafka.go:38-42, server/app/app.go:96-98)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap,
        "kafka.compression.type": "snappy",
        "kafka.acks": "1",
        "kafka.linger.ms": "1",
        **producer_opts,
    }
    writer = df.select("topic", "key", "value").write.format("kafka")
    for k, v in opts.items():
        writer = writer.option(k, v)
    writer.save()


class FileBus:
    """Kafka-shaped transport over a spool directory (local testing).

    Concurrency-safe across threads AND processes (ADVICE r6): a naive
    ``mode("append")`` into the shared root races on the committer's
    ``_temporary`` staging directory (one producer's commit deletes
    another's staged files — reproduced by parallel HTTP ingest
    requests in r6, and unfixable by an in-process lock when two
    sessions share a spool). ``produce`` therefore writes into a
    produce-private dot-prefixed staging dir (invisible to Spark
    readers, whose default path filter skips ``.``/``_`` prefixed
    paths — directories included — at every listing level) and
    publishes with ONE atomic directory rename, so a produce is
    all-or-nothing (ADVICE r7: the previous per-file renames could
    crash mid-loop and publish a prefix of the batch while the finally
    deleted the rest). Consumers list the spool with
    ``recursiveFileLookup`` so the per-batch subdirectories are
    visible; pre-existing flat part files keep working."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def produce(self, payloads: DataFrame | pa.Table) -> None:
        """Batch produce: append (topic, key, value) rows to the spool.

        A DataFrame (backfill, ``gateway.ingest``) goes through Spark's
        writer. A ``pyarrow.Table`` with PAYLOAD_ARROW_SCHEMA (the
        served path's per-request payloads, already in driver memory)
        is written as ONE parquet file by pyarrow, without a Spark job.
        Both are staged and published by the same single rename."""
        import shutil
        import uuid

        token = uuid.uuid4().hex
        staging = os.path.join(self.root, f".staging-{token}")
        try:
            if isinstance(payloads, pa.Table):
                os.makedirs(staging)
                pq.write_table(
                    payloads.select(PAYLOAD_ARROW_SCHEMA.names),
                    os.path.join(staging, f"part-00000-{token}.parquet"),
                )
            else:
                payloads.select("topic", "key", "value").write.mode(
                    "overwrite"
                ).parquet(staging)
            # single rename = atomic publish: either the whole batch
            # directory becomes visible or none of it does
            os.rename(staging, os.path.join(self.root, f"batch-{token}"))
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def consume_batch(self, topic: str | None = None) -> DataFrame:
        df = (
            self.spark.read.schema(PAYLOAD_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(self.root)
        )
        return df.filter(F.col("topic") == topic) if topic else df

    def consume_stream(self, topic: str | None = None, max_files_per_trigger: int | None = None) -> DataFrame:
        """Streaming consume — file source micro-batches stand in for
        Kafka offset ranges; ``maxFilesPerTrigger`` is the backpressure
        bound (reference channelBuffer, client/async.go:62-65)."""
        reader = self.spark.readStream.schema(PAYLOAD_SCHEMA).option(
            "recursiveFileLookup", "true"
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        df = reader.parquet(self.root)
        return df.filter(F.col("topic") == topic) if topic else df
