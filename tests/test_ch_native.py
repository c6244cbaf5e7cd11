"""The ClickHouse NATIVE wire endpoint (`ch_native.py`): the
reference's 9000 surface (`config.xml:11`, `README.md:156` —
clickhouse-client's own protocol). No native client library exists in
this container, so these tests drive the endpoint with a minimal
hand-rolled client implementing the documented client side (Hello,
Query with ClientInfo, the INSERT block dance) and pin the packet and
block layouts with golden-byte assertions — the repo's
Confluent-Avro-framing strategy applied to this wire."""

from __future__ import annotations

import datetime as dt
import socket
import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from postgre_to_clickhouse_spark.ch_native import (
    SERVER_REVISION,
    _Reader,
    codec_for,
    read_block,
    serve_ch_native,
    write_block,
    write_str,
    write_varint,
)
from postgre_to_clickhouse_spark.ch_select import ChContext


def _users(spark):
    rows = [
        (1, "john", "Gold", "2024-03-01 10:00:00"),
        (1, "john", "Silver", "2024-03-02 09:00:00"),
        (2, None, "Bronze", "2024-03-01 11:00:00"),
    ]
    return spark.createDataFrame(
        rows,
        "user_id long, username string, account_type string, "
        "updated_at string",
    ).withColumn("updated_at", F.to_timestamp("updated_at"))


# -- a minimal native client (the documented protocol, client side) ----
class _Client:
    def __init__(self, host: str, port: int, revision: int = SERVER_REVISION):
        self.sock = socket.create_connection((host, port), 30)
        self.r = _Reader(self.sock)
        self.revision = revision
        self.rev = revision  # negotiated below
        self.compression = 0
        self._hello()

    def close(self):
        self.sock.close()

    def _hello(self):
        w = write_varint(0) + write_str("p2c-test-client")
        w += write_varint(1) + write_varint(0) + write_varint(self.revision)
        w += write_str("default") + write_str("tester") + write_str("")
        self.sock.sendall(w)
        assert self.r.varint() == 0  # server Hello
        self.server_name = self.r.string()
        self.r.varint(), self.r.varint()
        server_rev = self.r.varint()
        self.rev = min(self.revision, server_rev)
        if self.rev >= 54058:
            self.timezone = self.r.string()
        if self.rev >= 54372:
            self.display_name = self.r.string()
        if self.rev >= 54401:
            self.r.varint()

    def _client_info(self) -> bytes:
        w = b"\x01"  # query_kind = 1 (initial query)
        w += write_str("") + write_str("") + write_str("0.0.0.0:0")
        if self.rev >= 54449:
            w += struct.pack("<Q", 0)
        w += b"\x01"  # interface TCP
        w += write_str("tester") + write_str("host") + write_str("p2c-test")
        w += write_varint(1) + write_varint(0) + write_varint(self.revision)
        if self.rev >= 54060:
            w += write_str("")
        if self.rev >= 54448:
            w += write_varint(0)
        if self.rev >= 54401:
            w += write_varint(0)
        if self.rev >= 54442:
            w += b"\x00"  # no otel
        if self.rev >= 54453:
            w += write_varint(0) + write_varint(0) + write_varint(0)
        return w

    def _frame_block(self, blk: bytes) -> bytes:
        """Wrap block bytes in a compressed frame when this client
        negotiated compression (the real client behavior)."""
        if not self.compression:
            return blk
        from postgre_to_clickhouse_spark.ch_compress import compress_frame

        return compress_frame(blk)

    def send_query(self, sql: str, compression: int = 0,
                   settings: dict[str, str] | None = None):
        self.compression = compression
        w = write_varint(1) + write_str("test-query-id")
        if self.rev >= 54032:
            w += self._client_info()
        for k, v in (settings or {}).items():
            w += write_str(k) + write_varint(0) + write_str(v)
        w += write_str("")  # end of settings
        if self.rev >= 54441:
            w += write_str("")  # interserver secret
        w += write_varint(2)  # stage Complete
        w += write_varint(compression)
        w += write_str(sql)
        # the external-tables terminator (empty Data block) every real
        # client sends unconditionally after Query — the server must
        # consume it before answering (framed when compressing)
        w += write_varint(2)
        if self.rev >= 50264:
            w += write_str("")
        w += self._frame_block(write_block([], 0, self.rev))
        self.sock.sendall(w)

    def recv_packet(self):
        """One server packet → (kind, payload)."""
        ptype = self.r.varint()
        if ptype == 1:  # Data
            if self.rev >= 50264:
                self.r.string()
            if getattr(self, "compression", 0):
                from postgre_to_clickhouse_spark.ch_native import _FrameReader

                fr = _FrameReader(self.r)
                blk = read_block(fr, self.rev)
                fr.finish()
                return ("data", blk)
            return ("data", read_block(self.r, self.rev))
        if ptype == 2:  # Exception
            code = self.r.i32()
            name = self.r.string()
            msg = self.r.string()
            self.r.string()
            self.r.u8()
            return ("exception", (code, name, msg))
        if ptype == 4:
            return ("pong", None)
        if ptype == 5:
            return ("end", None)
        raise AssertionError(f"unexpected server packet {ptype}")

    def query(self, sql: str, **kw):
        """Run to EndOfStream → ('rows', names, types, rows) or
        ('exception', code, msg)."""
        self.send_query(sql, **kw)
        names, types, rows = [], [], []
        while True:
            kind, payload = self.recv_packet()
            if kind == "exception":
                return ("exception", payload[0], payload[2])
            if kind == "end":
                return ("rows", names, types, rows)
            nm, ty, cols = payload
            if nm:
                names, types = nm, ty
                rows.extend(zip(*cols))

    def send_data_block(self, fields, rows):
        """fields: list[(name, spark_type, nullable)]."""
        cols = [
            (name, codec_for(st, nullable), [r[i] for r in rows])
            for i, (name, st, nullable) in enumerate(fields)
        ]
        w = write_varint(2)  # client Data
        if self.rev >= 50264:
            w += write_str("")
        w += self._frame_block(write_block(cols, len(rows), self.rev))
        self.sock.sendall(w)

    def send_empty_block(self):
        w = write_varint(2)
        if self.rev >= 50264:
            w += write_str("")
        w += self._frame_block(write_block([], 0, self.rev))
        self.sock.sendall(w)

    def ping(self):
        self.sock.sendall(write_varint(4))
        return self.recv_packet()[0]


@pytest.fixture()
def natep(spark):
    ctx = ChContext(
        {"users": _users(spark)},
        final_specs={"users": (("user_id",), ("updated_at",))},
    )
    ep = serve_ch_native(spark, ctx)
    yield ep
    ep.stop()


# -- golden bytes ------------------------------------------------------
def test_varint_golden_bytes():
    """LEB128 unsigned varint, pinned to the documented layout
    (native-protocol basics)."""
    assert write_varint(0) == b"\x00"
    assert write_varint(1) == b"\x01"
    assert write_varint(127) == b"\x7f"
    assert write_varint(128) == b"\x80\x01"
    assert write_varint(300) == b"\xac\x02"
    assert write_str("abc") == b"\x03abc"
    assert write_str("") == b"\x00"


def test_block_golden_bytes():
    """One uncompressed block, byte for byte: BlockInfo pairs
    (field 1 → is_overflows 0, field 2 → bucket -1, 0 terminator),
    counts, then name + type + fixed-width column data."""
    from pyspark.sql import types as T

    codec = codec_for(T.LongType(), nullable=False)
    got = write_block([("a", codec, [1, 2])], 2, SERVER_REVISION)
    want = (
        b"\x01\x00"                  # field 1, is_overflows = 0
        b"\x02\xff\xff\xff\xff"      # field 2, bucket_num = -1
        b"\x00"                      # end of BlockInfo
        b"\x01\x02"                  # 1 column, 2 rows
        b"\x01a"                     # column name "a"
        b"\x05Int64"                 # type string
        + struct.pack("<q", 1) + struct.pack("<q", 2)
    )
    assert got == want


def test_nullable_string_column_bytes():
    from pyspark.sql import types as T

    codec = codec_for(T.StringType(), nullable=True)
    assert codec.ch == "Nullable(String)"
    # null mask first (1 = NULL), then the String data with "" at nulls
    assert codec.enc(["hi", None]) == b"\x00\x01" + b"\x02hi" + b"\x00"


# -- handshake + SELECT -------------------------------------------------
def test_hello_and_select(natep):
    c = _Client(natep.host, natep.port)
    try:
        assert c.timezone == "UTC"
        kind, names, types, rows = c.query(
            "SELECT user_id, username, count() AS n FROM users "
            "GROUP BY user_id, username ORDER BY user_id, username"
        )
        assert kind == "rows"
        assert names == ["user_id", "username", "n"]
        assert types[0] in ("Int64", "Nullable(Int64)")
        got = {(r[0], r[1]): r[2] for r in rows}
        assert got == {(1, "john"): 2, (2, None): 1}
    finally:
        c.close()


def test_final_and_timestamp_on_the_wire(natep):
    c = _Client(natep.host, natep.port)
    try:
        kind, names, types, rows = c.query(
            "SELECT user_id, account_type, updated_at FROM users FINAL "
            "ORDER BY user_id"
        )
        assert kind == "rows"
        assert [r[1] for r in rows] == ["Silver", "Bronze"]
        assert types[2].startswith(("DateTime64", "Nullable(DateTime64"))
        assert rows[0][2] == dt.datetime(2024, 3, 2, 9, 0, 0)
    finally:
        c.close()


def test_old_client_revision_negotiates_down(natep):
    """A pre-ClientInfo client (rev 54058): fewer conditional fields
    on both directions; the query still answers."""
    c = _Client(natep.host, natep.port, revision=54058)
    try:
        assert c.rev == 54058
        kind, names, _types, rows = c.query(
            "SELECT count() AS n FROM users")
        assert kind == "rows" and rows == [(3,)]
    finally:
        c.close()


def test_types_roundtrip(spark):
    """Every wire codec the engine's tables can produce, through a
    real socket: ints, floats, bool, date, timestamp, decimal,
    arrays, NULLs."""
    df = spark.sql(
        "SELECT CAST(1 AS TINYINT) i8, CAST(2 AS SMALLINT) i16, "
        "CAST(3 AS INT) i32, CAST(4 AS BIGINT) i64, "
        "CAST(1.5 AS FLOAT) f32, CAST(2.5 AS DOUBLE) f64, "
        "true AS b, 'text' AS s, CAST(NULL AS STRING) AS sn, "
        "DATE'2024-03-01' AS d, TIMESTAMP'2024-03-01 10:00:00.123456' t, "
        "CAST(12345.67 AS DECIMAL(10,2)) dec10, "
        "CAST(1 AS DECIMAL(38,6)) dec38, "
        "array(1, 2, 3) AS arr, array('x', 'y') AS sarr"
    )
    ep = serve_ch_native(spark, ChContext({"t": df}))
    c = _Client(ep.host, ep.port)
    try:
        kind, names, types, rows = c.query("SELECT * FROM t")
        assert kind == "rows" and len(rows) == 1
        r = dict(zip(names, rows[0]))
        assert (r["i8"], r["i16"], r["i32"], r["i64"]) == (1, 2, 3, 4)
        assert (r["f32"], r["f64"]) == (1.5, 2.5)
        assert r["b"] is True and r["s"] == "text" and r["sn"] is None
        assert r["d"] == dt.date(2024, 3, 1)
        assert r["t"] == dt.datetime(2024, 3, 1, 10, 0, 0, 123456)
        assert r["dec10"] == Decimal("12345.67")
        assert r["dec38"] == Decimal("1.000000")
        assert r["arr"] == [1, 2, 3] and r["sarr"] == ["x", "y"]
        by = dict(zip(names, types))
        assert by["dec10"] == "Decimal(10, 2)"
        assert by["arr"] == "Array(Int32)"
    finally:
        c.close()
        ep.stop()


# -- the full terminal: DDL + both INSERT paths -------------------------
def test_ddl_catalog_and_insert_dance(spark, tmp_path):
    from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog

    cat = ChDdlCatalog(storage_root=str(tmp_path))
    ep = serve_ch_native(spark, cat)
    c = _Client(ep.host, ep.port)
    try:
        kind, *_ = c.query(
            "CREATE TABLE users (user_id UInt64, username Nullable(String),"
            " score Int64) ENGINE = ReplacingMergeTree(score) "
            "ORDER BY user_id"
        )
        assert kind == "rows"
        # inline VALUES travels in the query text (no dance)
        kind, *_ = c.query("INSERT INTO users VALUES (1, 'john', 10)")
        assert kind == "rows"
        # the block dance: bare INSERT ... VALUES, sample block comes
        # back as a zero-row Data block, then client streams blocks
        c.send_query("INSERT INTO users VALUES")
        kind, (names, types, cols) = c.recv_packet()
        assert kind == "data" and names == ["user_id", "username", "score"]
        from pyspark.sql import types as T

        fields = [("user_id", T.LongType(), False),
                  ("username", T.StringType(), True),
                  ("score", T.LongType(), False)]
        c.send_data_block(fields, [(2, "jane", 20), (3, None, 30)])
        c.send_data_block(fields, [(1, "john", 99)])  # RMT newer version
        c.send_empty_block()
        assert c.recv_packet()[0] == "end"
        kind, names, _t, rows = c.query(
            "SELECT user_id, username, score FROM users FINAL "
            "ORDER BY user_id"
        )
        assert kind == "rows"
        assert rows == [(1, "john", 99), (2, "jane", 20), (3, None, 30)]
        # r14: EXPLAIN ESTIMATE answers part statistics over this wire
        kind, names, _t, rows = c.query(
            "EXPLAIN ESTIMATE SELECT username FROM users "
            "WHERE user_id >= 2")
        assert kind == "rows"
        assert names == ["database", "table", "parts", "rows", "marks"]
        assert rows[0][1] == "users" and rows[0][3] >= 1
    finally:
        c.close()
        ep.stop()


def test_insert_dance_respects_column_list(spark, tmp_path):
    from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog
    from pyspark.sql import types as T

    cat = ChDdlCatalog(storage_root=str(tmp_path))
    ep = serve_ch_native(spark, cat)
    c = _Client(ep.host, ep.port)
    try:
        c.query(
            "CREATE TABLE t (a Int64, b String DEFAULT 'dflt', "
            "c Int64 MATERIALIZED a + 1) ENGINE = MergeTree ORDER BY a"
        )
        # sample block: only the requested columns, never MATERIALIZED
        c.send_query("INSERT INTO t (a) VALUES")
        kind, (names, _types, _cols) = c.recv_packet()
        assert kind == "data" and names == ["a"]
        c.send_data_block([("a", T.LongType(), False)], [(7,)])
        c.send_empty_block()
        assert c.recv_packet()[0] == "end"
        kind, _n, _t, rows = c.query("SELECT a, b, c FROM t")
        assert kind == "rows" and rows == [(7, "dflt", 8)]
        # a MATERIALIZED column in the list refuses loudly
        res = c.query("INSERT INTO t (a, c) VALUES")
        assert res[0] == "exception" and "not insertable" in res[2]
    finally:
        c.close()
        ep.stop()


# -- errors and guards ---------------------------------------------------
def test_exception_packet(natep):
    c = _Client(natep.host, natep.port)
    try:
        kind, code, msg = c.query("SELECT nonsense FROM missing_table")
        assert kind == "exception" and code == 62
        assert "DB::Exception" not in msg  # name travels separately
    finally:
        c.close()


def test_compressed_select_roundtrip(natep):
    """r14: ``compression=1`` (the stock-client default) serves Data
    blocks as CityHash128-checksummed LZ4 frames; the same connection
    can then switch back to an uncompressed query (the flag is
    per-query)."""
    c = _Client(natep.host, natep.port)
    try:
        kind, names, types, rows = c.query(
            "SELECT user_id, username, count() AS n FROM users "
            "GROUP BY user_id, username ORDER BY user_id, username",
            compression=1,
        )
        assert kind == "rows"
        assert {(r[0], r[1]): r[2] for r in rows} == {
            (1, "john"): 2, (2, None): 1,
        }
        kind, *_ = c.query("SELECT count() AS n FROM users")
        assert kind == "rows"
    finally:
        c.close()


def test_unknown_compression_flag_refused(natep):
    c = _Client(natep.host, natep.port)
    try:
        kind, code, msg = c.query("SELECT 1", compression=7)
        assert kind == "exception" and "compression flag" in msg
    finally:
        c.close()


def test_max_rows_guard(spark):
    ep = serve_ch_native(
        spark, ChContext({"t": spark.range(100).toDF("id")}),
        max_result_rows=10,
    )
    c = _Client(ep.host, ep.port)
    try:
        res = c.query("SELECT id FROM t")
        assert res[0] == "exception" and "max_result_rows" in res[2]
        kind, _n, _t, rows = c.query("SELECT id FROM t ORDER BY id LIMIT 5")
        assert kind == "rows" and len(rows) == 5
    finally:
        c.close()
        ep.stop()


def test_ping_pong_and_reuse(natep):
    c = _Client(natep.host, natep.port)
    try:
        assert c.ping() == "pong"
        kind, _n, _t, rows = c.query("SELECT count() AS n FROM users")
        assert kind == "rows" and rows == [(3,)]
        assert c.ping() == "pong"  # connection still healthy
    finally:
        c.close()


def test_select_only_context_refuses_ddl(natep):
    c = _Client(natep.host, natep.port)
    try:
        res = c.query("CREATE TABLE x (a Int64) ENGINE = MergeTree ORDER BY a")
        assert res[0] == "exception" and "ChDdlCatalog" in res[2]
    finally:
        c.close()


def test_settings_accepted_as_strings(natep):
    """String-serialized settings (>= 54429) parse and are ignored —
    the same posture as the HTTP endpoint's URL parameters."""
    c = _Client(natep.host, natep.port)
    try:
        kind, _n, _t, rows = c.query(
            "SELECT count() AS n FROM users",
            settings={"max_threads": "4", "send_logs_level": "warning"},
        )
        assert kind == "rows" and rows == [(3,)]
    finally:
        c.close()


# -- codec property tests (pure python, no Spark) -----------------------
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from postgre_to_clickhouse_spark.ch_native import (  # noqa: E402
    _BytesSock,
    _Reader,
    codec_for_ch_type,
    iter_blocks_bytes,
    spark_type_for_ch_type,
    write_block,
)


def _roundtrip(ch_type: str, values: list):
    codec = codec_for_ch_type(ch_type)
    raw = codec.enc(values)
    r = _Reader(_BytesSock(raw))
    return codec.dec(r, len(values))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1)))
def test_int64_codec_roundtrip(vals):
    assert _roundtrip("Int64", vals) == vals


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=40))))
def test_nullable_string_codec_roundtrip(vals):
    assert _roundtrip("Nullable(String)", vals) == vals


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(
    st.one_of(st.none(),
              st.integers(min_value=-(2 ** 31), max_value=2 ** 31 - 1)),
    max_size=8)))
def test_array_nullable_int_codec_roundtrip(vals):
    assert _roundtrip("Array(Nullable(Int32))", vals) == vals


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(allow_nan=False, width=64)))
def test_float64_codec_roundtrip(vals):
    assert _roundtrip("Float64", vals) == vals


@settings(max_examples=100, deadline=None)
@given(st.lists(st.decimals(
    min_value=-(10 ** 8), max_value=10 ** 8, places=2)))
def test_decimal_codec_roundtrip(vals):
    from decimal import Decimal

    got = _roundtrip("Decimal(10, 2)", vals)
    assert got == [Decimal(v).quantize(Decimal("0.01")) for v in vals]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.datetimes(
    min_value=dt.datetime(1970, 1, 2),
    max_value=dt.datetime(2200, 1, 1))))
def test_datetime64_codec_roundtrip(vals):
    # DateTime64(6): microsecond ticks — exact for any datetime
    assert _roundtrip("DateTime64(6)", vals) == vals


@settings(max_examples=100, deadline=None)
@given(st.lists(st.dates(
    min_value=dt.date(1900, 1, 1), max_value=dt.date(2200, 1, 1))))
def test_date32_codec_roundtrip(vals):
    assert _roundtrip("Date32", vals) == vals


@settings(max_examples=50, deadline=None)
@given(
    names=st.lists(
        st.text(alphabet="abcdefgh_", min_size=1, max_size=8),
        min_size=1, max_size=4, unique=True),
    n_rows=st.integers(min_value=0, max_value=20),
    data=st.data(),
)
def test_standalone_block_roundtrip(names, n_rows, data):
    """Any block of Int64/Nullable(String) columns survives the
    standalone Native body encoding byte-exactly."""
    cols = []
    for i, name in enumerate(names):
        if i % 2 == 0:
            vals = data.draw(st.lists(
                st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
                min_size=n_rows, max_size=n_rows))
            cols.append((name, codec_for_ch_type("Int64"), vals))
        else:
            vals = data.draw(st.lists(
                st.one_of(st.none(), st.text(max_size=20)),
                min_size=n_rows, max_size=n_rows))
            cols.append((name, codec_for_ch_type("Nullable(String)"), vals))
    payload = write_block(cols, n_rows, rev=0)
    blocks = list(iter_blocks_bytes(payload))
    assert len(blocks) == 1
    got_names, _types, got_cols = blocks[0]
    assert got_names == names
    assert got_cols == [c[2] for c in cols]


def test_spark_type_for_ch_type_refuses_unknown():
    import pytest as _pytest

    from postgre_to_clickhouse_spark.ch_select import ChSqlError

    with _pytest.raises(ChSqlError, match="unsupported column type"):
        spark_type_for_ch_type("Map(String, String)")
    with _pytest.raises(ChSqlError, match="unsupported column type"):
        codec_for_ch_type("LowCardinality(String)")


def test_wire_guards():
    """Negative varints refuse (would loop forever), over-long
    varints refuse (max 10 bytes for UInt64), and a truncated Native
    body raises the dialect error, not a raw EOF."""
    import pytest as _pytest

    from postgre_to_clickhouse_spark.ch_select import ChSqlError

    with _pytest.raises(ValueError, match="unsigned"):
        write_varint(-1)
    r = _Reader(_BytesSock(b"\xff" * 11))
    with _pytest.raises(ChSqlError, match="malformed varint"):
        r.varint()
    good = write_block(
        [("a", codec_for_ch_type("Int64"), [1, 2, 3])], 3, rev=0)
    with _pytest.raises(ChSqlError, match="truncated Native body"):
        list(iter_blocks_bytes(good[:-4]))


def test_header_parse_error_answers_exception_then_closes(natep):
    """r13 s3 (review): a Query-header failure (e.g. a pre-54429
    client sending a TYPED setting the subset refuses) must answer an
    Exception packet — not kill the thread silently — and then close,
    because the stream position is untrustworthy."""
    c = _Client(natep.host, natep.port, revision=54058)
    try:
        # rev 54058 < 54429: any non-empty setting is the typed
        # serialization the subset refuses
        w = write_varint(1) + write_str("qid")
        w += c._client_info()
        w += write_str("max_threads")  # typed settings body would follow
        c.sock.sendall(w)
        kind, payload = c.recv_packet()
        assert kind == "exception"
        assert "typed" in payload[2] or "54429" in payload[2]
        # server closes afterwards
        import pytest as _pytest

        with _pytest.raises(EOFError):
            c.recv_packet()
    finally:
        c.close()


def test_insert_dance_row_bound(spark, tmp_path):
    """The dance enforces max_result_rows like every other ingest
    path, and the connection closes after the mid-stream error."""
    from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog
    from pyspark.sql import types as T

    cat = ChDdlCatalog(storage_root=str(tmp_path))
    ep = serve_ch_native(spark, cat, max_result_rows=5)
    c = _Client(ep.host, ep.port)
    try:
        c.query("CREATE TABLE t (a Int64) ENGINE = MergeTree ORDER BY a")
        c.send_query("INSERT INTO t VALUES")
        kind, _payload = c.recv_packet()
        assert kind == "data"  # the sample block
        fields = [("a", T.LongType(), False)]
        c.send_data_block(fields, [(i,) for i in range(6)])
        kind, payload = c.recv_packet()
        assert kind == "exception" and "max_result_rows" in payload[2]
    finally:
        c.close()
        ep.stop()


def test_external_tables_with_data_refuse(natep):
    """A NON-empty external-tables block refuses loudly (outside the
    subset) instead of being silently dropped."""
    from pyspark.sql import types as T

    c = _Client(natep.host, natep.port)
    try:
        # a Query whose external-tables section carries a real block
        w = write_varint(1) + write_str("qid")
        w += c._client_info()
        w += write_str("")  # no settings
        w += write_str("")  # interserver secret
        w += write_varint(2) + write_varint(0)
        w += write_str("SELECT count() AS n FROM users")
        c.sock.sendall(w)
        c.send_data_block([("x", T.LongType(), False)], [(1,)])
        kind, payload = c.recv_packet()
        assert kind == "exception" and "external" in payload[2]
    finally:
        c.close()


def test_decimal128_high_precision_exact():
    """r13 s3 (review): 38-significant-digit decimals cross the wire
    exactly — the default decimal context (prec=28) would silently
    round on decode and raise on encode."""
    from postgre_to_clickhouse_spark.ch_native import codec_for_ch_type

    v = Decimal("1234567890123456789012345678.1234567890")
    codec = codec_for_ch_type("Decimal(38, 10)")
    raw = codec.enc([v, -v])
    from postgre_to_clickhouse_spark.ch_native import _BytesSock

    got = codec.dec(_Reader(_BytesSock(raw)), 2)
    assert got == [v, -v]


def test_datetime_tz_spelling_accepted_by_both_parsers():
    """r13 s3 (review 3): the two CH-type parsers stay aligned — the
    DateTime('tz') spelling a tz-configured client emits decodes AND
    maps to a Spark type."""
    from pyspark.sql import types as T

    from postgre_to_clickhouse_spark.ch_native import (
        codec_for_ch_type,
        spark_type_for_ch_type,
    )

    assert codec_for_ch_type("DateTime('UTC')").ch == "DateTime"
    st, nullable = spark_type_for_ch_type("DateTime('UTC')")
    assert isinstance(st, T.TimestampType) and not nullable


def test_non_tcp_client_info_refuses(natep):
    """r13 s3 (review 3): a ClientInfo with a non-TCP interface would
    desync the parse — the server answers an Exception and closes
    rather than guessing the HTTP field layout."""
    c = _Client(natep.host, natep.port)
    try:
        w = write_varint(1) + write_str("qid")
        # hand-build a ClientInfo with interface = 2 (HTTP)
        ci = b"\x01" + write_str("") + write_str("") + write_str("0:0")
        ci += __import__("struct").pack("<Q", 0)  # initial query start
        ci += b"\x02"  # interface HTTP
        c.sock.sendall(w + ci)
        kind, payload = c.recv_packet()
        assert kind == "exception" and "TCP clients only" in payload[2]
    finally:
        c.close()


def test_tables_status_reads_db_table_pairs(natep):
    """r14 (ADVICE r13): TablesStatusRequest carries a (database,
    table) string PAIR per entry — a non-empty probe followed by a
    ping must not desync the stream."""
    c = _Client(natep.host, natep.port)
    try:
        req = write_varint(5)  # C_TABLES_STATUS
        req += write_varint(2)  # two entries
        req += write_str("default") + write_str("users")
        req += write_str("db2") + write_str("t2")
        c.sock.sendall(req)
        assert c.r.varint() == 9  # S_TABLES_STATUS
        assert c.r.varint() == 0  # empty status map
        assert c.ping() == "pong"  # stream still aligned
        kind, *_ = c.query("SELECT count() AS n FROM users")
        assert kind == "rows"
    finally:
        c.close()


def test_compressed_insert_dance_roundtrip(spark, tmp_path):
    """r14: the documented INSERT dance with ``compression=1`` — the
    sample block arrives framed, the client streams framed blocks
    (including one block split across TWO frames — the compressed
    stream is a logical stream, not one-frame-per-block), and the
    read-back over a compressed SELECT matches."""
    from postgre_to_clickhouse_spark.ch_compress import compress_frame
    from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog
    from pyspark.sql import types as T

    cat = ChDdlCatalog(storage_root=str(tmp_path))
    ep = serve_ch_native(spark, cat)
    c = _Client(ep.host, ep.port)
    try:
        c.query("CREATE TABLE tc (a Int64, s String) "
                "ENGINE = MergeTree ORDER BY a")
        c.send_query("INSERT INTO tc VALUES", compression=1)
        kind, (names, _types, _cols) = c.recv_packet()
        assert kind == "data" and names == ["a", "s"]
        fields = [("a", T.LongType(), False), ("s", T.StringType(), False)]
        c.send_data_block(fields, [(1, "one"), (2, "two")])
        # one block split across two frames by hand
        cols = [("a", codec_for(T.LongType(), False), [3]),
                ("s", codec_for(T.StringType(), False), ["three"])]
        blk = write_block(cols, 1, c.rev)
        w = write_varint(2) + write_str("")
        w += compress_frame(blk[:7]) + compress_frame(blk[7:])
        c.sock.sendall(w)
        c.send_empty_block()
        assert c.recv_packet()[0] == "end"
        kind, _n, _t, rows = c.query(
            "SELECT a, s FROM tc ORDER BY a", compression=1)
        assert kind == "rows" and rows == [(1, "one"), (2, "two"),
                                           (3, "three")]
    finally:
        c.close()
        ep.stop()


def test_compressed_leftover_bytes_refuse(spark, tmp_path):
    """Bytes left in a frame AFTER the Data block mean the stream is
    desynced — the server answers an exception instead of guessing."""
    from postgre_to_clickhouse_spark.ch_compress import compress_frame
    from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog

    cat = ChDdlCatalog(storage_root=str(tmp_path))
    ep = serve_ch_native(spark, cat)
    c = _Client(ep.host, ep.port)
    try:
        c.query("CREATE TABLE tl (a Int64) ENGINE = MergeTree ORDER BY a")
        c.send_query("INSERT INTO tl VALUES", compression=1)
        assert c.recv_packet()[0] == "data"  # sample block
        blk = write_block([], 0, c.rev)  # terminator...
        w = write_varint(2) + write_str("")
        w += compress_frame(blk + b"\x99")  # ...with trailing garbage
        c.sock.sendall(w)
        kind, payload = c.recv_packet()
        assert kind == "exception" and "left over" in payload[2]
    finally:
        c.close()
        ep.stop()


def test_zstd_frame_refused_loudly(spark, tmp_path):
    """A ZSTD method byte names the LZ4 alternative instead of
    misreading the frame."""
    import struct as _s

    from postgre_to_clickhouse_spark.ch_compress import cityhash128
    from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog

    cat = ChDdlCatalog(storage_root=str(tmp_path))
    ep = serve_ch_native(spark, cat)
    c = _Client(ep.host, ep.port)
    try:
        c.query("CREATE TABLE tz (a Int64) ENGINE = MergeTree ORDER BY a")
        c.send_query("INSERT INTO tz VALUES", compression=1)
        assert c.recv_packet()[0] == "data"
        head = _s.pack("<BII", 0x90, 9 + 3, 3)  # ZSTD method
        body = b"abc"
        lo, hi = cityhash128(head + body)
        w = write_varint(2) + write_str("")
        w += _s.pack("<QQ", lo, hi) + head + body
        c.sock.sendall(w)
        kind, payload = c.recv_packet()
        assert kind == "exception" and "ZSTD" in payload[2]
    finally:
        c.close()
        ep.stop()


@pytest.mark.filterwarnings("error::pytest.PytestUnhandledThreadExceptionWarning")
def test_implausible_string_length_refuses(natep):
    """r14 hardening: a peer claiming a multi-gigabyte string (stream
    desync, or a non-native client on the port) must fail loudly
    instead of blocking on an allocation that never completes."""
    import pytest as _pytest

    from postgre_to_clickhouse_spark.ch_select import ChSqlError

    c = _Client(natep.host, natep.port)
    try:
        # client-side reader enforces the same bound
        r = _Reader.__new__(_Reader)
        r.buf = write_varint(1 << 40)
        r.at = 0
        r.sock = None
        with _pytest.raises(ChSqlError, match="implausible string"):
            r.string()
        # server side: a Hello whose name claims 2^40 bytes answers
        # nothing and the connection closes (header trust is gone)
        import socket as _s

        s2 = _s.create_connection((natep.host, natep.port), 10)
        s2.sendall(write_varint(0) + write_varint(1 << 40))
        s2.settimeout(5)
        assert s2.recv(1) == b""  # server closed
        s2.close()
    finally:
        c.close()


def test_zstd_wire_codec_served_when_pinned(natep, monkeypatch):
    """r15 (VERDICT r14 #6): a query pinning
    ``network_compression_method=zstd`` gets its Data blocks as
    method-0x90 zstd frames (the last client-default-adjacent wire
    gap after r14's LZ4); ``none`` frames as method 0x02; both decode
    through the same checksummed read path."""
    from postgre_to_clickhouse_spark import ch_compress as cc

    if cc._ZSTD is None:
        pytest.skip("no zstd codec bundled")
    methods = []
    real = cc.compress_frame

    def spy(data, method=cc.METHOD_LZ4):
        methods.append(method)
        return real(data, method)

    monkeypatch.setattr(cc, "compress_frame", spy)
    c = _Client(natep.host, natep.port)
    try:
        kind, names, types, rows = c.query(
            "SELECT user_id, username, count() AS n FROM users "
            "GROUP BY user_id, username ORDER BY user_id, username",
            compression=1,
            settings={"network_compression_method": "zstd"},
        )
        assert kind == "rows"
        assert {(r[0], r[1]): r[2] for r in rows} == {
            (1, "john"): 2, (2, None): 1,
        }
        assert cc.METHOD_ZSTD in methods  # server frames really zstd
        # `none` is still checksummed framing, method 0x02
        methods.clear()
        kind, *_rest = c.query(
            "SELECT count() AS n FROM users", compression=1,
            settings={"network_compression_method": "none"},
        )
        assert kind == "rows"
        assert cc.METHOD_NONE in methods and cc.METHOD_ZSTD not in methods
    finally:
        c.close()


def test_zstd_pin_refuses_loudly_without_codec(natep, monkeypatch):
    """The pre-r15 refusal is retained when no codec is importable:
    loud, at query time (never a mid-stream desync), naming lz4."""
    from postgre_to_clickhouse_spark import ch_compress as cc

    monkeypatch.setattr(cc, "_ZSTD", None)
    c = _Client(natep.host, natep.port)
    try:
        kind, code, msg = c.query(
            "SELECT 1", compression=1,
            settings={"network_compression_method": "zstd"},
        )
        assert kind == "exception"
        assert "network_compression_method=lz4" in msg
    finally:
        c.close()


def test_unknown_compression_method_setting_refused(natep):
    c = _Client(natep.host, natep.port)
    try:
        kind, code, msg = c.query(
            "SELECT 1", compression=1,
            settings={"network_compression_method": "snappy"},
        )
        assert kind == "exception" and "outside the subset" in msg
    finally:
        c.close()


def test_zstd_pin_without_wire_compression_still_serves(natep,
                                                        monkeypatch):
    """ADVICE r15: a client pinning network_compression_method=zstd
    with the wire compression flag OFF never uses the codec — the
    query must serve (real CH behavior) even when no codec is
    bundled, and the method setting must not be resolved at all."""
    from postgre_to_clickhouse_spark import ch_compress as cc

    monkeypatch.setattr(cc, "_ZSTD", None)
    c = _Client(natep.host, natep.port)
    try:
        kind, names, types, rows = c.query(
            "SELECT count() AS n FROM users", compression=0,
            settings={"network_compression_method": "zstd"},
        )
        assert kind == "rows" and rows == [(3,)]
    finally:
        c.close()
