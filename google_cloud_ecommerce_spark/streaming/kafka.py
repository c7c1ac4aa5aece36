"""Kafka source/sink — the production swap-in for the file-replay and
wire-file stand-ins (SURVEY.md §2.1 #4).

The reference consumes Pub/Sub
(``/root/reference/streaming_pipeline/write_session_stream.py:103-104``)
and publishes one comma-joined UTF-8 message per event
(``send_session_stream.py:30-33,52-56``). In Spark that transport is the
built-in ``kafka`` structured-streaming format; everything
pipeline-specific is (a) the option dict and (b) the wire <-> columns
mapping, both of which live here and are unit-tested without a broker.
The payload codec is shared with sources/wire.py: the SAME positional
CSV line (props last, ``split(',', 6)`` so embedded commas survive)
moves through files in the test container and through Kafka in
production — swapping transports changes no query code.

Config-gated: this container ships no Kafka broker or
spark-sql-kafka package, so ``read_kafka_stream``/``write_kafka_stream``
build real plans only where those exist; tests cover option
construction and the value codec (the parts that break in practice).

Scale posture: one Kafka partition maps to one Spark task —
``minPartitions`` can fan a hot topic wider than its partition count;
``maxOffsetsPerTrigger`` is the backpressure knob bounding micro-batch
size (the analogue of replay.py's maxFilesPerTrigger pacing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from google_cloud_ecommerce_spark.sources.wire import WIRE_SCHEMA

KAFKA_FORMAT = "kafka"

# positional wire fields, in line order (props LAST: embedded commas)
_WIRE_FIELDS = ("event_id", "ts", "user_id", "event_type", "value", "props")
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    min_partitions: int | None = None,
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """Subscribe options, as a pure inspectable dict."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if min_partitions is not None:
        opts["minPartitions"] = str(min_partitions)
    return opts


def kafka_sink_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }


def parse_wire_value(value: Column) -> Column:
    """Kafka ``value`` bytes -> typed event struct, all JVM-side.

    ``split`` with limit 6 mirrors sources/wire.py ``_read_wire_file``
    (``split_pattern`` with at most 5 splits): props keeps its embedded
    commas. An empty field decodes to NULL, the inverse of the sink's
    empty-string encoding."""
    line = value.cast("string")
    parts = F.split(line, ",", 6)

    def _field(i: int) -> Column:
        # empty string is the wire encoding of NULL for EVERY column
        # (see wire_value_expr); strip it before any ANSI cast, which
        # would otherwise throw on ''
        return F.nullif(F.get(parts, i), F.lit(""))

    return F.struct(
        _field(0).cast("bigint").alias("event_id"),
        F.to_timestamp_ntz(_field(1), F.lit(_TS_FMT)).alias("ts"),
        _field(2).cast("bigint").alias("user_id"),
        _field(3).alias("event_type"),
        _field(4).cast("double").alias("value"),
        _field(5).alias("props"),
    )


def wire_value_expr(
    fields: tuple[str, ...] = _WIRE_FIELDS,
) -> Column:
    """Typed event columns -> the wire line as Kafka ``value``.

    Every field is explicitly NULL-coalesced BEFORE concat_ws (which
    would silently drop null args and shift all later positions —
    a malformed short line on the consumer side)."""
    return F.concat_ws(
        ",",
        F.coalesce(F.col("event_id").cast("string"), F.lit("")),
        F.coalesce(F.date_format("ts", _TS_FMT), F.lit("")),
        F.coalesce(F.col("user_id").cast("string"), F.lit("")),
        F.coalesce(F.col("event_type"), F.lit("")),
        F.coalesce(F.col("value").cast("string"), F.lit("")),
        F.coalesce(F.col("props"), F.lit("")),
    ).alias("value")


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    **source_kwargs,
) -> DataFrame:
    """The streaming scan: same shape as replay.read_replay_stream but
    sourced from a topic. Returns the typed event columns plus the
    Kafka metadata a consumer may need for audit (partition, offset)."""
    raw = (
        spark.readStream.format(KAFKA_FORMAT)
        .options(**kafka_source_options(bootstrap_servers, topic, **source_kwargs))
        .load()
    )
    parsed = raw.select(
        parse_wire_value(F.col("value")).alias("ev"),
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
    )
    return parsed.select("ev.*", "partition", "offset", "kafka_ts")


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    *,
    trigger_seconds: int | None = None,
):
    """The publish sink: one wire line per event (the reference's
    per-event Pub/Sub publish, batched by micro-batch instead of RPC
    per row). Exactly-once is per-epoch via the checkpoint; consumers
    still dedup (T3) because Kafka's producer contract here is
    at-least-once across failures."""
    out = df.select(wire_value_expr())
    writer = (
        out.writeStream.format(KAFKA_FORMAT)
        .options(**kafka_sink_options(bootstrap_servers, topic))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def write_kafka_batch(
    df: DataFrame, bootstrap_servers: str, topic: str
) -> None:
    """Batch publish (backfill a topic from a table)."""
    df.select(wire_value_expr()).write.format(KAFKA_FORMAT).options(
        **kafka_sink_options(bootstrap_servers, topic)
    ).save()


__all__ = [
    "KAFKA_FORMAT",
    "WIRE_SCHEMA",
    "kafka_source_options",
    "kafka_sink_options",
    "parse_wire_value",
    "wire_value_expr",
    "read_kafka_stream",
    "write_kafka_stream",
    "write_kafka_batch",
]
