"""CDC pipeline operators (Tier A of SURVEY.md §2).

The reference pipeline: Debezium emits Avro change events to Kafka topic
``shop.public.users``; a ClickHouse Kafka-engine table consumes them, a
materialized view projects/casts per block into a ReplacingMergeTree
table (``README.md:126-230``; the view runs verbatim
through ``ch_ddl.ChDdlCatalog``). Here each hop is a pure
``DataFrame -> DataFrame`` function so the identical code runs under
``spark.read`` and ``spark.readStream`` (batch-first, streaming-second —
the reference's snapshot-then-stream unification, README.md:137).
"""

from postgre_to_clickhouse_spark.cdc.dedup import dedup_redelivery, latest
from postgre_to_clickhouse_spark.cdc.envelope import unwrap

__all__ = ["unwrap", "dedup_redelivery", "latest"]
