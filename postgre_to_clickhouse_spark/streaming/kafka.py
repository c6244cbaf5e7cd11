"""Kafka source/sink wiring (SURVEY.md A4–A7), gated on the connector.

The reference consumes topic ``shop.public.users`` as consumer group
``clickhouse`` in AvroConfluent format (``/root/reference/README.md:
197-202``). The Spark equivalent needs the external
``spark-sql-kafka-0-10`` jar, which pip-installed pyspark does not ship,
and a broker, so construction raises a clear error when unavailable. The
source's ``value``/``offset``/``timestamp``/``partition`` columns are
what ``cdc.avro_py.decode_confluent_frames`` reads: it decodes each
value under the writer schema its Confluent id names and carries the
transport metadata through as ``kafka_offset``/``kafka_timestamp``/
``kafka_partition`` (A5/A7 + A17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TOPIC = "shop.public.users"  # <server>.<schema>.<table> (README.md:133)
DEFAULT_GROUP = "clickhouse"  # README.md:200


def kafka_available(spark: SparkSession) -> bool:
    try:
        spark.readStream.format("kafka").option("kafka.bootstrap.servers", "x:1").option(
            "subscribe", "probe"
        ).load()
        return True
    except Exception as e:  # DATA_SOURCE_NOT_FOUND → jar missing
        return "kafka" not in str(e).lower() or "Failed to find" not in str(e)


def read_cdc_topic(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    group_id: str = DEFAULT_GROUP,
    starting_offsets: str = "earliest",
    streaming: bool = True,
) -> DataFrame:
    """Kafka source for the CDC topic (A6). ``streaming=False`` gives the
    batch replay of the same topic (A27's backfill-and-live unification)."""
    reader = spark.readStream if streaming else spark.read
    return (
        reader.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("kafka.group.id", group_id)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def write_cdc_topic(df: DataFrame, bootstrap_servers: str, topic: str) -> None:
    """Kafka sink (A4): key = PK, value = payload (framing done upstream)."""
    (
        df.selectExpr("CAST(user_id AS STRING) AS key", "value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )
