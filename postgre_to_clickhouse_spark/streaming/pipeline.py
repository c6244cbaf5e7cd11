"""The CDC ingest pipeline, streaming form (SURVEY.md §3.2 Spark mapping).

Source options:
- file stream of Debezium-shaped JSON events (tests / fixture replay —
  stands in for the Kafka topic exactly like the reference's seed data);
- Kafka-shaped parquet of Confluent-framed Avro values
  (:func:`run_pipeline_avro_frames`), decoded by the package's one
  Confluent decoder;
- Kafka (``streaming.kafka``) when the connector jar + broker exist.

The transform chain is the *batch* operators unchanged (unwrap →
mv_users) — batch-first design means streaming reuses them verbatim.
The sink is the ``foreachBatch`` body the caller passes, normally
``sinks.manifest.ManifestTable.merge_upsert()``: per-batch redelivery
dedup (A19), a touched-bucket read-merge-write, and one atomic commit
(creating the next manifest version). ``ManifestTable.read_latest`` is
the ``latest`` view (A20) computed at read time.

Exactly-once posture: the checkpoint replays an uncommitted
micro-batch, and the replay converges because the merge is
deterministic; a crash before the manifest commit leaves the previous
snapshot intact.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from postgre_to_clickhouse_spark.cdc import mv_users, unwrap
from postgre_to_clickhouse_spark.cdc.schemas import KAFKA_CDC_RECORD

Sink = Callable[[DataFrame, int], None]


def read_json_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based change stream: one JSON event per line, shaped like
    KAFKA_CDC_RECORD (the Kafka-topic stand-in for tests/replay)."""
    reader = spark.readStream.schema(KAFKA_CDC_RECORD).option("multiLine", "false")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def transform(stream_df: DataFrame) -> DataFrame:
    """The standing query of the materialized view — identical code for
    batch and streaming inputs (A12–A18)."""
    return mv_users(unwrap(stream_df))


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


def _start(stream: DataFrame, sink: Sink, checkpoint_path: str, available_now: bool):
    """Run ``sink`` on every micro-batch of ``stream``.
    ``available_now=True`` drains the source and stops (test mode /
    backfill); otherwise runs continuous micro-batches (A24)."""
    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_path)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="5 seconds").start()


def run_pipeline(
    spark: SparkSession,
    source_path: str,
    sink: Sink,
    checkpoint_path: str,
    available_now: bool = True,
):
    """End-to-end: JSON file stream → unwrap → MV transform → ``sink``
    (the foreachBatch body, e.g. ``ManifestTable.merge_upsert()``)."""
    stream = transform(read_json_event_stream(spark, source_path))
    return _start(stream, sink, checkpoint_path, available_now)


def run_pipeline_avro_frames(
    spark: SparkSession,
    frames_path: str,
    sink: Sink,
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
    and goes to ``sink``. With ``ManifestTable.merge_upsert()`` equal
    versions tie-break on the Kafka offset, as in the JSON pipeline. One
    streaming query keeps ingesting across a CDC schema migration
    mid-topic — the registry-compatibility behavior the reference
    delegates to Confluent SR + AvroConfluent
    (``/root/reference/README.md:189-202,260``).
    """
    from postgre_to_clickhouse_spark.cdc.avro_py import decode_confluent_frames

    stream = spark.readStream.schema("value binary, offset long, timestamp timestamp").parquet(
        frames_path
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        sink(decode_confluent_frames(batch_df, schemas_by_id, reader_schema_json), batch_id)

    return _start(stream, _apply, checkpoint_path, available_now)
