"""Golden-byte tests for the Confluent Avro framing and the one
Confluent decoder (SURVEY.md §4.3).

The reference ingests ``AvroConfluent``-framed Kafka values
(/root/reference/README.md:201-202): magic 0x0 + 4-byte BE schema id +
Avro binary. ``cdc.avro.frame``/``unframe`` build and check the header;
``cdc.avro_py`` encodes the Avro bytes and decodes them, per record,
under the writer schema the id names (``decode_confluent_frames``).
"""

from __future__ import annotations

import datetime as dt

import pytest

from postgre_to_clickhouse_spark.cdc import avro as A


def test_frame_roundtrip_golden_bytes():
    framed = A.frame(b"\x02\x06foo", 7)
    assert framed == b"\x00\x00\x00\x00\x07\x02\x06foo"
    assert framed[0] == 0 and len(framed) == A.HEADER_LEN + 5


def test_schema_id_and_payload_extraction():
    for payload, sid in [(b"abc", 1), (b"\xff\x00\xff", 131074), (b"", 7)]:
        assert A.unframe(A.frame(payload, sid)) == (sid, payload)
    with pytest.raises(ValueError, match="shorter than"):
        A.unframe(b"\x00\x00\x01")
    with pytest.raises(ValueError, match="magic byte is 0x01"):
        A.unframe(b"\x01\x00\x00\x00\x07abc")


def test_static_registry():
    reg = A.StaticSchemaRegistry({1: '{"type":"string"}'})
    assert reg.schema_by_id(1) == '{"type":"string"}'


# --------------------------------------------------------------------------
# Pure-Python Avro binary codec (cdc/avro_py.py) — the jar-free decode
# path, asserted on VALUES end-to-end, not just framing.
# --------------------------------------------------------------------------
def test_avro_py_golden_bytes():
    """Hand-computed spec bytes: zigzag varints + length-prefixed runs."""
    from postgre_to_clickhouse_spark.cdc import avro_py as AP

    assert AP.zigzag_varint(0) == b"\x00"
    assert AP.zigzag_varint(-1) == b"\x01"
    assert AP.zigzag_varint(1) == b"\x02"
    assert AP.zigzag_varint(-64) == b"\x7f"
    assert AP.zigzag_varint(64) == b"\x80\x01"
    schema = '{"type":"record","name":"r","fields":[{"name":"a","type":"int"},{"name":"s","type":["null","string"]}]}'
    enc = AP.encode_record({"a": 3, "s": "hi"}, schema)
    # a=3 → 0x06; union branch 1 → 0x02; len("hi")=2 → 0x04; "hi"
    assert enc == b"\x06\x02\x04hi"
    assert AP.decode_record(enc, schema) == {"a": 3, "s": "hi"}
    assert AP.decode_record(b"\x06\x00", schema) == {"a": 3, "s": None}


def test_avro_py_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from postgre_to_clickhouse_spark.cdc import avro_py as AP

    schema = """
    {"type":"record","name":"r","fields":[
      {"name":"i","type":"int"},
      {"name":"l","type":"long"},
      {"name":"d","type":"double"},
      {"name":"s","type":["null","string"]},
      {"name":"b","type":"boolean"},
      {"name":"arr","type":{"type":"array","items":"long"}},
      {"name":"m","type":{"type":"map","values":"string"}}
    ]}
    """

    @settings(max_examples=200, deadline=None)
    @given(
        i=st.integers(-(2**31), 2**31 - 1),
        ln=st.integers(-(2**63), 2**63 - 1),
        d=st.floats(allow_nan=False),
        s=st.none() | st.text(max_size=40),
        b=st.booleans(),
        arr=st.lists(st.integers(-(2**63), 2**63 - 1), max_size=8),
        m=st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=5),
    )
    def check(i, ln, d, s, b, arr, m):
        rec = {"i": i, "l": ln, "d": d, "s": s, "b": b, "arr": arr, "m": m}
        assert AP.decode_record(AP.encode_record(rec, schema), schema) == rec

    check()


def test_avro_py_end_to_end_confluent_decode(spark):
    """Full spine on real bytes: typed rows → avro-encode → Confluent
    frame → Kafka-shaped Spark frame → Arrow-batched decode → values
    equal the source, with the Kafka offset/timestamp/partition carried
    through. This is the reference's AvroConfluent consumer behavior
    (README.md:201-202) executed, not just framed."""
    from postgre_to_clickhouse_spark.cdc import avro_py as AP
    from postgre_to_clickhouse_spark.cdc.schemas import USERS_AVRO_SCHEMA

    rows = [
        {"user_id": 1, "username": "alice", "account_type": "premium",
         "updated_at": 1700000000123456, "created_at": 1690000000000000},
        {"user_id": 2, "username": None, "account_type": "free",
         "updated_at": 1700000001000000, "created_at": 1690000001000000},
        {"user_id": 3, "username": "cindy", "account_type": None,
         "updated_at": 1700000002500000, "created_at": 1690000002000000},
    ]
    ts = dt.datetime(2024, 3, 1, 10, 0, 0)
    framed = [
        (bytearray(A.frame(AP.encode_record(r, USERS_AVRO_SCHEMA), 42)), 100 + i,
         ts + dt.timedelta(seconds=i), 3)
        for i, r in enumerate(rows)
    ]
    df = spark.createDataFrame(
        framed, "value binary, offset long, timestamp timestamp, partition int")

    out = AP.decode_confluent_frames(df, {42: USERS_AVRO_SCHEMA}, USERS_AVRO_SCHEMA)
    assert out.columns[-3:] == ["kafka_offset", "kafka_timestamp", "kafka_partition"]
    got = sorted((r.asDict() for r in out.collect()), key=lambda r: r["user_id"])
    assert got == [
        {**r, "kafka_offset": 100 + i, "kafka_timestamp": ts + dt.timedelta(seconds=i),
         "kafka_partition": 3}
        for i, r in enumerate(rows)
    ]
    # Arrow path, not row-at-a-time Python
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan
    # the schema id selects the writer schema: id 42 is not registered
    # under id 7, so the decoder refuses the frame instead of guessing
    with pytest.raises(Exception, match=r"record at offset 10[0-2]: unknown schema id 42"):
        AP.decode_confluent_frames(df, {7: USERS_AVRO_SCHEMA}, USERS_AVRO_SCHEMA).collect()


def test_decoder_rejects_values_that_are_not_confluent_frames(spark):
    """A value shorter than the 5-byte header, or whose first byte is
    not the magic 0x00, is refused with the record's offset (its batch
    index when the frame carries no offset), never decoded as Avro."""
    from postgre_to_clickhouse_spark.cdc import avro_py as AP
    from postgre_to_clickhouse_spark.cdc.schemas import USERS_AVRO_SCHEMA

    rec = {"user_id": 1, "username": "a", "account_type": "b", "updated_at": 2, "created_at": 3}
    good = A.frame(AP.encode_record(rec, USERS_AVRO_SCHEMA), 1)
    bad_magic = b"\x01" + good[1:]
    schemas = {1: USERS_AVRO_SCHEMA}

    with_offsets = spark.createDataFrame(
        [(bytearray(good), 8), (bytearray(bad_magic), 9)], "value binary, offset long"
    ).coalesce(1)
    with pytest.raises(Exception, match=r"ValueError: record at offset 9: magic byte is 0x01"):
        AP.decode_confluent_frames(with_offsets, schemas, USERS_AVRO_SCHEMA).collect()

    values_only = spark.createDataFrame(
        [(bytearray(good),), (bytearray(good[:3]),)], "value binary"
    ).coalesce(1)
    with pytest.raises(Exception, match=r"ValueError: record at index 1: 3-byte value is shorter"):
        AP.decode_confluent_frames(values_only, schemas, USERS_AVRO_SCHEMA).collect()


# -- schema evolution (round 4) ---------------------------------------------
USERS_V2_AVRO_SCHEMA = """
{
  "type": "record",
  "name": "Value",
  "namespace": "shop.public.users",
  "fields": [
    {"name": "user_id", "type": "long"},
    {"name": "username", "type": ["null", "string"], "default": null},
    {"name": "account_type", "type": ["null", "string"], "default": null},
    {"name": "updated_at", "type": "long"},
    {"name": "created_at", "type": "long"},
    {"name": "email", "type": ["null", "string"], "default": null}
  ]
}
"""


def test_evolving_decode_mixed_versions(spark):
    """A topic carrying v1 (5 fields, int user_id) and v2 (adds nullable
    email, widens user_id to long) records must decode under the v2
    reader in one pass: v1 rows get email=null and promoted ids, v2
    rows keep their values. Per-record schema-id dispatch."""
    from postgre_to_clickhouse_spark.cdc import avro as A
    from postgre_to_clickhouse_spark.cdc import avro_py as AP
    from postgre_to_clickhouse_spark.cdc.schemas import USERS_AVRO_SCHEMA

    v1_rows = [
        {"user_id": 1, "username": "ann", "account_type": "free", "updated_at": 10, "created_at": 1},
        {"user_id": 2, "username": "bob", "account_type": "pro", "updated_at": 20, "created_at": 2},
    ]
    v2_rows = [
        {"user_id": 3, "username": "cat", "account_type": "pro", "updated_at": 30,
         "created_at": 3, "email": "cat@example.org"},
        {"user_id": 4, "username": None, "account_type": None, "updated_at": 40,
         "created_at": 4, "email": None},
    ]
    framed = [(bytearray(A.frame(AP.encode_record(r, USERS_AVRO_SCHEMA), 1)),) for r in v1_rows]
    framed += [(bytearray(A.frame(AP.encode_record(r, USERS_V2_AVRO_SCHEMA), 2)),) for r in v2_rows]
    df = spark.createDataFrame(framed, "value binary")

    out = AP.decode_confluent_frames(
        df, {1: USERS_AVRO_SCHEMA, 2: USERS_V2_AVRO_SCHEMA}, USERS_V2_AVRO_SCHEMA
    )
    got = {r.user_id: (r.username, r.email) for r in out.collect()}
    assert got == {1: ("ann", None), 2: ("bob", None),
                   3: ("cat", "cat@example.org"), 4: (None, None)}
    assert dict(out.dtypes)["user_id"] == "bigint"  # int -> long promotion

    # FORWARD direction: old reader over new records drops the column
    back = AP.decode_confluent_frames(
        df, {1: USERS_AVRO_SCHEMA, 2: USERS_V2_AVRO_SCHEMA}, USERS_AVRO_SCHEMA
    )
    assert "email" not in back.columns and back.count() == 4
