"""Streaming sources: file-staged table replays and the events stream.

Structured Streaming's file source monitors a directory and processes
newly-listed files per micro-batch — the open-source stand-in for a
Kafka topic. `stage_events` materializes a source table (the
ts-normalized events table by default; also documents or embeddings)
into a staging directory through the S4 parquet sink; `events_stream`
attaches a readStream to it. `max_files_per_trigger=1` forces one
staged file per micro-batch, so tests exercise genuine multi-batch
incremental state, not a single-batch degenerate run.

`events_stream` also takes a SOURCE FACTORY — any callable
(spark) -> streaming DataFrame with the events schema — so a
Kafka/Kinesis/rate reader plugs into the same downstream pipeline
without touching the operators:

    kafka = lambda spark: (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", ...)
        .option("subscribe", "events").load()
        .select(F.from_json(F.col("value").cast("string"), EVENTS_DDL)
                .alias("e")).select("e.*"))
    events_stream(spark, source=kafka)

`rate_events_source` is the shipped demonstration factory: Spark's
built-in rate-micro-batch generator mapped onto the events schema —
the connector-less way to prove the seam end to end (tests do).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capstone_etl_spark.sinks.writers import write_parquet
from capstone_etl_spark.sources.tables import load_table

# The schema every source factory must produce (matches the staged table).
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def stage_events(
    spark: SparkSession,
    sf_dir: str,
    staging_dir: str,
    n_files: int = 4,
    table: str = "events",
) -> DataFrame:
    """Write `table` (load_table's form of it: events ts-normalized,
    documents/embeddings as scanned) as n_files parquet files into
    staging_dir; returns the batch frame over the staged copy — the
    stream's schema donor and the source of deploy-time literals."""
    rows = load_table(spark, sf_dir, table).repartition(n_files)
    write_parquet(rows, staging_dir)
    return spark.read.parquet(staging_dir)


def events_stream(
    spark: SparkSession,
    staging_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    source: Callable[[SparkSession], DataFrame] | None = None,
) -> DataFrame:
    """Streaming events frame. With `source`, delegates to the factory
    (Kafka-shaped swap point); otherwise attaches a readStream to the
    file-staged directory (schema inferred from the staged files —
    file streams require an explicit schema)."""
    if source is not None:
        return source(spark)
    if staging_dir is None:
        raise ValueError("events_stream needs a staging_dir or a source factory")
    schema = spark.read.parquet(staging_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(staging_dir)


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka's fixed wire schema (key/value binary + topic/partition/
    offset/timestamp) → the events schema: JSON value parse against
    EVENTS_DDL. Source-agnostic DataFrame transform, so it is provable
    on a STATIC frame with the same shape (tests do exactly that —
    no broker, no connector jar, same code path)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS_DDL).alias("e")
    ).select("e.*")


def kafka_events_source(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> Callable[[SparkSession], DataFrame]:
    """Factory: a Kafka topic of JSON events → the events schema,
    through the same `events_stream(source=...)` seam as every other
    source. Requires the spark-sql-kafka connector on the classpath at
    deployment (not shipped in this container); the value-parsing
    stage is the tested `parse_kafka_events`."""

    def make(spark: SparkSession) -> DataFrame:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
        return parse_kafka_events(raw)

    return make


def rate_events_source(
    rows_per_batch: int = 100, start_ts: str = "2024-01-01 00:00:00"
) -> Callable[[SparkSession], DataFrame]:
    """Factory: Spark's rate-micro-batch generator shaped into the
    events schema — deterministic synthetic events (value index drives
    ids/types/values; event time advances one second per row from
    start_ts). No external connector, same downstream pipeline."""

    def make(spark: SparkSession) -> DataFrame:
        raw = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", str(rows_per_batch))
            .load()
        )
        i = F.col("value")
        return raw.select(
            i.alias("event_id"),
            (F.to_timestamp(F.lit(start_ts)) + F.make_dt_interval(secs=i)).alias("ts"),
            (i % 50).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (i % 3 + 1).cast("int"),
            ).alias("event_type"),
            (i % 1000).cast("double").alias("value"),
            F.lit("{}").alias("props"),
        )

    return make
