"""ClickHouse sink (SURVEY.md A8 terminal hop): the reference's landing
store, reachable from Spark over JDBC.

The reference lands CDC rows in a ClickHouse ``ReplacingMergeTree``
via the Kafka engine + materialized view
(``/root/reference/README.md:171-231``). Spark's equivalent sink is a
JDBC batch/foreachBatch write to the same table — ClickHouse then
applies its own merge-on-read semantics, so the correct write mode is
plain INSERT (append): last-wins resolution happens inside ClickHouse
exactly as in the reference, and our ``cdc.dedup`` operators provide
the same semantics engine-side when the target is parquet instead.

No ClickHouse server or JDBC driver exists in this container, so —
mirroring ``sources/jdbc.py`` — the sink builds and returns the fully
configured writer without connecting; tests assert the option wiring.

Scale posture: one JDBC connection per partition writes batches of
``batchsize`` rows; ``repartition(n)`` ahead of the write sets the
insert parallelism (the reference's consumer is a single Kafka
consumer group — per-partition parallel inserts are strictly more
throughput). ``async_insert`` rides ClickHouse's server-side batching
so many small executor batches don't create many small parts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class ClickHouseSink:
    """Connection + table config — the engine's analogue of the
    reference's ClickHouse DDL target (README.md:171-186)."""

    host: str = "clickhouse"
    port: int = 8123  # HTTP interface, what the JDBC driver speaks
    database: str = "shop"
    table: str = "users"
    user: str = "default"
    password: str = ""
    batchsize: int = 100_000
    async_insert: bool = False

    extra_options: dict[str, str] = field(default_factory=dict)

    @property
    def url(self) -> str:
        url = f"jdbc:clickhouse://{self.host}:{self.port}/{self.database}"
        return url + "?async_insert=1&wait_for_async_insert=1" if self.async_insert else url

    def writer(self, df: DataFrame, num_partitions: int | None = None):
        """Configured DataFrameWriter (append — ReplacingMergeTree owns
        the last-wins merge, as in the reference)."""
        if num_partitions is not None:
            df = df.repartition(num_partitions)
        w = (
            df.write.format("jdbc")
            .mode("append")
            .option("url", self.url)
            .option("dbtable", f"{self.database}.{self.table}")
            .option("user", self.user)
            .option("driver", "com.clickhouse.jdbc.ClickHouseDriver")
            .option("batchsize", str(self.batchsize))
            .option("isolationLevel", "NONE")  # CH has no txns; skip the probe
        )
        if self.password:
            w = w.option("password", self.password)
        for k, v in self.extra_options.items():
            w = w.option(k, v)
        return w

    def write(self, df: DataFrame, **kwargs) -> None:
        """Run the insert (requires a live ClickHouse + JDBC driver)."""
        self.writer(df, **kwargs).save()

    def foreach_batch(self, num_partitions: int | None = None):
        """foreachBatch body: stream micro-batches into ClickHouse —
        the ``sink`` to pass ``streaming.pipeline`` in place of
        ``ManifestTable.merge_upsert()`` when the target is the
        reference's own store."""

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            self.write(batch_df, num_partitions=num_partitions)

        return _apply
