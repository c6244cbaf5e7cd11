"""The CDC ingest pipeline, streaming form (SURVEY.md §3.2 Spark mapping).

Source options:
- file stream of Debezium-shaped JSON events (tests / fixture replay —
  stands in for the Kafka topic exactly like the reference's seed data),
  flattened by ``cdc.unwrap``;
- Kafka-shaped parquet of Confluent-framed Avro values
  (:func:`run_pipeline_avro_frames`), decoded by the package's one
  Confluent decoder;
- Kafka (``streaming.kafka``) when the connector jar + broker exist.

Both pipelines feed a ``ChDdlCatalog``'s ``ENGINE = Kafka`` table
through :meth:`ch_ddl.ChDdlCatalog.kafka_sink`: each micro-batch runs
the materialized views that read the table (the reference's verbatim
MV, README.md:212-230) and commits their output through
``ChDdlCatalog.insert`` into the targets (A12–A19). Latest-wins is
read back with ``SELECT ... FINAL`` or ``LIMIT 1 BY`` (A20).

Exactly-once posture: the checkpoint path is the sink's ``app_id``.
A micro-batch replayed after a restart carries an id the target's
manifest ``txns`` record already holds and commits nothing; a crash
before the manifest commit leaves the previous snapshot intact.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from postgre_to_clickhouse_spark.cdc import unwrap
from postgre_to_clickhouse_spark.cdc.schemas import KAFKA_CDC_RECORD


def write_events_as_json(events: DataFrame, path: str, n_files: int = 1) -> None:
    """Fixture helper: materialize a CDC event DataFrame as a JSON file
    stream source directory (one file per micro-batch when n_files>1)."""
    os.makedirs(path, exist_ok=True)
    rows = [r.asDict(recursive=True) for r in events.collect()]
    chunks = [rows[i::n_files] for i in range(n_files)]
    for i, chunk in enumerate(chunks):
        with open(os.path.join(path, f"batch_{i:05d}.json"), "w") as f:
            for r in chunk:
                if r.get("kafka_timestamp") is not None:
                    r["kafka_timestamp"] = r["kafka_timestamp"].strftime("%Y-%m-%dT%H:%M:%S.%f")
                f.write(json.dumps(r) + "\n")


def _start(stream: DataFrame, catalog, kafka_table: str, checkpoint_path: str,
           available_now: bool, decode: Callable[[DataFrame], DataFrame]):
    """Feed every micro-batch of ``stream``, after ``decode``, to
    ``catalog.kafka_sink(kafka_table, app_id=checkpoint_path)``. A file
    stream does not keep the topic's order inside a micro-batch (Spark
    packs files largest first), so each ``decode`` first puts its batch
    back in offset order, the order a Kafka consumer hands CH its rows;
    the last row of a block wins a ReplacingMergeTree tie.
    ``available_now=True`` drains the source and stops (test mode /
    backfill); otherwise runs continuous micro-batches (A24)."""
    sink = catalog.kafka_sink(kafka_table, checkpoint_path)
    writer = stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: sink(decode(batch_df), batch_id)
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="5 seconds").start()


def run_pipeline(
    spark: SparkSession,
    source_path: str,
    catalog,
    kafka_table: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """End-to-end: a file stream of JSON change events, one per line
    and shaped like ``KAFKA_CDC_RECORD`` (the Kafka-topic stand-in for
    tests and replay) → ``unwrap`` → the Kafka table ``kafka_table`` of
    ``catalog`` (its MVs, then their targets)."""
    stream = spark.readStream.schema(KAFKA_CDC_RECORD).json(source_path)
    return _start(stream, catalog, kafka_table, checkpoint_path, available_now,
                  lambda df: unwrap(df.orderBy("kafka_offset")))


def run_pipeline_avro_frames(
    spark: SparkSession,
    frames_path: str,
    catalog,
    kafka_table: str,
    checkpoint_path: str,
    schemas_by_id: dict[int, str],
    reader_schema_json: str,
    available_now: bool = True,
):
    """Kafka-replay shape with SCHEMA EVOLUTION: a stream of Kafka-shaped
    parquet (``value binary, offset long, timestamp timestamp`` — the
    Kafka source's columns) decodes per record under its writer schema,
    resolves to one reader schema
    (``cdc.avro_py.decode_confluent_frames``, which carries ``offset``
    and ``timestamp`` through as ``kafka_offset``/``kafka_timestamp``)
    and feeds the Kafka table ``kafka_table`` of ``catalog``, exactly
    as the JSON pipeline does. One streaming query keeps ingesting
    across a CDC schema migration mid-topic — the registry-compatibility
    behavior the reference delegates to Confluent SR + AvroConfluent
    (the reference ``README.md:189-202,260``).
    """
    from postgre_to_clickhouse_spark.cdc.avro_py import decode_confluent_frames

    stream = spark.readStream.schema("value binary, offset long, timestamp timestamp").parquet(
        frames_path
    )
    return _start(stream, catalog, kafka_table, checkpoint_path, available_now,
                  lambda df: decode_confluent_frames(df.orderBy("offset"), schemas_by_id,
                                                     reader_schema_json))
