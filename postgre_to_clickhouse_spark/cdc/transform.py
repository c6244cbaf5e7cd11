"""The reference MV's µs→s cast as a DataFrame column expression.

The materialized view ``kafka_shop.consumer__users`` converts the
Kafka table's epoch-microsecond columns with ``toDateTime(updated_at
/ 1000000)`` (the reference ``README.md:212-230``); the view itself
runs through ``ch_ddl.ChDdlCatalog``.

Cast parity note (SURVEY.md §7.5.4): ClickHouse ``toDateTime(x/1000000)``
on a UInt64 µs value floor-divides to epoch *seconds* — sub-second
precision is truncated, not rounded. We reproduce with
``timestamp_seconds(floor(us / 1e6))``; golden tests pin it.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def us_to_timestamp(col: F.Column) -> F.Column:
    """Epoch-microseconds → second-precision timestamp (CH toDateTime parity)."""
    return F.timestamp_seconds(F.floor(col / F.lit(1_000_000)).cast(LongType()))
