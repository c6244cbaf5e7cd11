"""Golden end-to-end test of the CDC slice (SURVEY.md §5.2.2).

Reproduces the reference's manual verification (`SELECT * FROM shop.users`
after the seed inserts, /root/reference/README.md:108-111,237-243) as an
automated golden test, including the redelivery / out-of-order / delete
scenarios from the §2.3 semantic note.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from postgre_to_clickhouse_spark.cdc import dedup_redelivery, latest, unwrap
from postgre_to_clickhouse_spark.cdc.fixtures import (
    GOLDEN_ALL_VERSIONS,
    GOLDEN_LATEST,
    users_cdc_events,
)
from postgre_to_clickhouse_spark.cdc.schemas import USERS_FINAL
from postgre_to_clickhouse_spark.ch_ddl import KAFKA_VIRTUAL
from tests.test_ch_ddl import readme_catalog


def _pipeline(spark, events=None):
    """The change events through the README's parsed MV."""
    events = users_cdc_events(spark) if events is None else events
    src = unwrap(events).withColumnsRenamed(KAFKA_VIRTUAL)
    return readme_catalog().apply_mv(spark, "consumer__users", {"kafka__users": src})


def test_unwrap_drops_deletes_and_flattens(spark):
    out = unwrap(users_cdc_events(spark))
    rows = out.collect()
    assert len(rows) == 7  # 8 events - 1 delete
    assert {r.user_id for r in rows} == {1, 2, 3}
    assert "kafka_offset" in out.columns and "event" not in out.columns


def test_unwrap_keep_deletes_surfaces_before_image(spark):
    out = unwrap(users_cdc_events(spark), keep_deletes=True, keep_op=True)
    d = [r for r in out.collect() if r.op == "d"]
    assert len(d) == 1 and d[0].user_id == 3 and d[0].username == "bob_wilson"


def test_mv_schema_matches_final_table(spark):
    out = _pipeline(spark)
    assert [f.name for f in out.schema.fields] == [f.name for f in USERS_FINAL.fields]
    # conformed to the parsed shop.users: UInt32 user_id widens to bigint
    want = readme_catalog().tables["users"].schema
    assert [f.dataType for f in out.schema.fields] == [f.dataType for f in want.fields]


def test_microsecond_truncation_cast(spark):
    # john's seed updated_at has .123456 µs — CH toDateTime(x/1000000)
    # truncates to second precision (README.md:226).
    out = _pipeline(spark).filter((F.col("user_id") == 1) & (F.col("kafka_offset") == 0)).collect()
    assert out[0].updated_at == dt.datetime(2024, 3, 1, 10, 0, 0)
    assert out[0].updated_at.microsecond == 0


def test_dedup_redelivery_golden(spark):
    got = dedup_redelivery(_pipeline(spark)).collect()
    as_map = {(r.user_id, r.updated_at.strftime("%Y-%m-%d %H:%M:%S")): (r.username, r.account_type) for r in got}
    assert as_map == GOLDEN_ALL_VERSIONS
    # redelivery collapsed to the earliest offset
    silver = [r for r in got if r.user_id == 1 and r.account_type == "Silver"]
    assert silver[0].kafka_offset == 3


def test_latest_golden_despite_out_of_order_arrival(spark):
    got = latest(dedup_redelivery(_pipeline(spark))).collect()
    as_map = {r.user_id: (r.username, r.account_type, r.updated_at.strftime("%Y-%m-%d %H:%M:%S")) for r in got}
    assert as_map == GOLDEN_LATEST  # jane's stale Bronze (arrived last) must lose


def test_batch_pipeline_is_order_insensitive(spark):
    # Same events, reversed arrival order → identical latest() state.
    shuffled = users_cdc_events(spark).orderBy(F.col("kafka_offset").desc())
    got = latest(dedup_redelivery(_pipeline(spark, shuffled))).collect()
    as_map = {r.user_id: (r.username, r.account_type, r.updated_at.strftime("%Y-%m-%d %H:%M:%S")) for r in got}
    assert as_map == GOLDEN_LATEST
